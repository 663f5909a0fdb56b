"""Round-3 additions (batch g): recrawl change-rate scheduling,
truth-finding claim adjudication, C4 line rules — hand-computed
goldens and edge cases."""

from pyspark.sql import functions as F



def test_change_rate_schedule_golden(spark):
    from python_mecab_ner_spark.operators.crawl import (
        change_rate_schedule)
    rows = [
        # url a: v1 v1 v2 v2 v3 -> 2 changes over 4 intervals
        ("a", 0, "v1"), ("a", 1, "v1"), ("a", 2, "v2"),
        ("a", 3, "v2"), ("a", 4, "v3"),
        # url b: never changes over 3 epochs
        ("b", 0, "x"), ("b", 1, "x"), ("b", 2, "x"),
        # url c: observed once -> no intervals, rate 0
        ("c", 5, "y"),
    ]
    d = spark.createDataFrame(rows, "url string, epoch int, fp string")
    got = {r.url: (r.n_epochs, r.n_changes, r.change_rate_ppm,
                   r.refresh_bucket)
           for r in change_rate_schedule(d).collect()}
    assert got["a"] == (5, 2, 500_000, 19)   # bit_length(500000)=19
    assert got["b"] == (3, 0, 0, 0)
    assert got["c"] == (1, 0, 0, 0)


def test_change_rate_schedule_epoch_order_not_arrival_order(spark):
    from python_mecab_ner_spark.operators.crawl import (
        change_rate_schedule)
    # rows arrive shuffled; transitions follow epoch order: v1->v2->v1
    rows = [("a", 2, "v1"), ("a", 0, "v1"), ("a", 1, "v2")]
    d = spark.createDataFrame(rows, "url string, epoch int, fp string")
    r = change_rate_schedule(d).collect()[0]
    assert (r.n_changes, r.change_rate_ppm) == (2, 1_000_000)


def _claims_df(spark, rows):
    return spark.createDataFrame(rows, "source string, subj int, val int")


def test_adjudicate_claims_trust_flips_noisy_majority(spark):
    from python_mecab_ner_spark.operators.truth import adjudicate_claims
    # calibration subjects 1..10: A,B say 1 (majority), C says 2, D says 3
    rows = []
    for s in range(1, 11):
        rows += [("A", s, 1), ("B", s, 1), ("C", s, 2), ("D", s, 3)]
    # subject 99: reliable A says 7, noisy C and D both say 3
    rows += [("A", 99, 7), ("C", 99, 3), ("D", 99, 3)]
    out = adjudicate_claims(_claims_df(spark, rows))
    got = {r.subj: r for r in out.collect()}
    # trust_ppm: A=(10+1)e6/(11+2)=846153, C=D=(1+1)e6/(11+2)=153846
    r99 = got[99]
    assert r99.naive_val == 3          # raw majority (2 votes vs 1)
    assert r99.val == 7                # trust-weighted rescue
    assert (r99.n_claims, r99.n_vals) == (3, 2)
    assert r99.support_ppm == (846153 * 1_000_000) // (846153 + 2 * 153846)
    # calibration subjects keep the majority value
    assert got[1].val == 1 and got[1].naive_val == 1
    out.unpersist_input()


def test_adjudicate_claims_deterministic_tie_breaks(spark):
    from python_mecab_ner_spark.operators.truth import adjudicate_claims
    # one claim each: naive tie -> smaller val wins; the tie-winner's
    # source then earns higher trust (it "agrees" with consensus), so
    # the weighted round confirms it with a >50% support share
    rows = [("A", 1, 4), ("B", 1, 2)]
    out = adjudicate_claims(_claims_df(spark, rows))
    r = out.collect()[0]
    assert r.naive_val == 2 and r.val == 2
    assert r.n_claims == 2 and r.n_vals == 2
    # trust: B=(1+1)e6/3=666666 (agrees), A=(0+1)e6/3=333333
    assert r.support_ppm == (666666 * 1_000_000) // 999_999
    out.unpersist_input()


def test_c4_line_stats_golden(spark):
    from python_mecab_ner_spark.functions.text import c4_line_stats
    page = "\n".join([
        "good solid line here.",      # kept
        "no terminal punctuation",    # drop: punct
        "too short.",                 # drop: short (2 words)
        "javascript alert is bad.",   # drop: js
        "Ends with question mark?",   # kept
    ])
    d = spark.createDataFrame([(1, page)], "doc_id int, page string")
    r = d.select(*c4_line_stats(F.col("page"))).collect()[0]
    assert (r.n_lines, r.n_kept) == (5, 2)
    assert (r.n_drop_punct, r.n_drop_short, r.n_drop_js) == (1, 1, 1)
    assert r.n_kept + r.n_drop_punct + r.n_drop_short + r.n_drop_js \
        == r.n_lines
    assert r.page_drop == 1   # n_kept 2 < min_kept 3


def test_c4_line_stats_page_level_lorem_and_empty(spark):
    from python_mecab_ner_spark.functions.text import c4_line_stats
    import hashlib
    rows = [(1, "one fine line right here.\nsecond fine line is good."
                "\nthird fine line stays too.\nLorem Ipsum dolor sit."),
            (2, "no punct at all")]
    d = spark.createDataFrame(rows, "doc_id int, page string")
    got = {r.doc_id: r for r in
           d.select("doc_id", *c4_line_stats(F.col("page"))).collect()}
    assert got[1].n_kept == 4 and got[1].page_drop == 1  # lorem ipsum
    assert got[2].n_kept == 0 and got[2].page_drop == 1
    assert got[2].clean_fp == hashlib.md5(b"").hexdigest()


def test_kg_truth_triples_matches_python_recompute(spark):
    """Exact pure-python twin of kg_truth_triples over the REAL
    extracted triples (the kg_entity_reach cross-check pattern):
    same dictionary encoding, same packed-integer argmaxes, same
    Laplace trust — every output row must match."""
    import re
    from collections import Counter, defaultdict

    import __spark_entry__ as e
    from python_mecab_ner_spark.operators.truth import VAL_BASE

    g = e._kg_graph(spark)
    triples = g["triples"].select("url", "subj", "pred", "obj").collect()
    vals = {o: i + 1 for i, o in
            enumerate(sorted({r.obj for r in triples}))}
    rev = {v: o for o, v in vals.items()}
    cnt = Counter()
    for r in triples:
        host = re.match(r"^https?://([^/]+)/", r.url).group(1)
        cnt[((r.subj, r.pred), vals[r.obj], host)] += 1

    def argmax(pairs):  # [(score, val)] -> packed argmax val, score
        p = max(s * VAL_BASE + (VAL_BASE - 1 - v) for s, v in pairs)
        return VAL_BASE - 1 - p % VAL_BASE, p // VAL_BASE

    sv, per_src, per_src_agree = Counter(), Counter(), Counter()
    for (subj, val, src), c in cnt.items():
        sv[(subj, val)] += c
    naive = {}
    for subj in {s for s, _ in sv}:
        naive[subj], _ = argmax([(n, v) for (s, v), n in sv.items()
                                 if s == subj])
    for (subj, val, src), c in cnt.items():
        per_src[src] += c
        if val == naive[subj]:
            per_src_agree[src] += c
    trust = {s: ((per_src_agree[s] + 1) * 1_000_000)
             // (per_src[s] + 2) for s in per_src}
    w, n_tot, n_vals = Counter(), Counter(), Counter()
    for (subj, val, src), c in cnt.items():
        w[(subj, val)] += c * trust[src]
        n_tot[subj] += c
    expected = {}
    for subj in naive:
        scored = [(sc, v) for (s, v), sc in w.items() if s == subj]
        win, best = argmax(scored)
        total = sum(sc for sc, _ in scored)
        expected[subj] = (rev[naive[subj]], rev[win], n_tot[subj],
                          len(scored), (best * 1_000_000) // total)

    out = e.kg_truth_triples(spark, "unused")
    got = {(r.subj, r.pred): (r.obj_naive, r.obj_won, r.n_claims,
                              r.n_vals, r.support_ppm)
           for r in out.collect()}
    assert got == expected
    assert len(got) > 50          # real corpus: many adjudicated pairs
    # the corpus genuinely contains conflicts
    assert any(v[3] > 1 for v in got.values())
    out.unpersist_input()
