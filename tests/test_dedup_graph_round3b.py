"""Round-3 late additions, batch 2: containment pairs, cross-doc
duplicated-window coverage, winnowing
fingerprints, text normalization —
hand-computed goldens on tiny graphs/corpora (the DuckDB cross-engine
checks live in the q109-q114 oracles)."""

from pyspark.sql import functions as F

from python_mecab_ner_spark.functions.hashing import md5_int_py
from python_mecab_ner_spark.functions.text import normalize_text
from python_mecab_ner_spark.operators.dedup import (
    containment_pairs, cross_doc_ngram_coverage, winnow_fingerprints)


def test_containment_golden(spark):
    # doc 1 (2 shingles) fully contained in doc 2 (5 shingles):
    # containment 1.0 while jaccard is only 0.4
    d = spark.createDataFrame(
        [(1, "w1 w2 w3 w4"),
         (2, "w1 w2 w3 w4 x y z"),
         (3, "p q r s")],
        "doc_id int, text string")
    rows = containment_pairs(d, "text", "doc_id", k=3, min_shared=2,
                             min_containment_ppm=500_000).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b, r.inter, r.n_a, r.n_b) == (1, 2, 2, 2, 5)
    assert r.containment_ppm == 1_000_000
    assert r.jaccard_ppm == 400_000


def test_containment_threshold_drops_low_pairs(spark):
    # shares 2 of its 4 shingles -> containment 0.5 ppm == 500000 stays;
    # raise the floor and it drops
    d = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 a b"),       # shingles: 4
         (2, "w1 w2 w3 w4 x y z")],    # shares w1w2w3, w2w3w4
        "doc_id int, text string")
    lo = containment_pairs(d, "text", "doc_id", k=3,
                           min_containment_ppm=500_000).collect()
    assert len(lo) == 1 and lo[0].containment_ppm == 500_000
    hi = containment_pairs(d, "text", "doc_id", k=3,
                           min_containment_ppm=500_001).collect()
    assert hi == []


def test_cross_doc_ngram_coverage_golden(spark):
    # k=2 windows are POSITIONAL (non-distinct): doc 1 has 3 windows
    # ("a b", "b a", "a b"); "a b" also occurs in doc 2 -> both of its
    # occurrences count as duplicated
    d = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z z z")],
        "doc_id int, text string")
    got = {r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_ppm)
           for r in cross_doc_ngram_coverage(d, "text", "doc_id",
                                             k=2).collect()}
    assert got[1] == (3, 2, 666_666)
    assert got[2] == (2, 1, 500_000)
    # "z z" repeats WITHIN doc 3 only -> g_df == 1, not cross-doc dup
    assert got[3] == (2, 0, 0)


def _py_winnow(text: str, k: int = 3, w: int = 4) -> set:
    toks = text.lower().strip().split()
    grams = [" ".join(toks[i:i + k])
             for i in range(max(len(toks) - k, 0) + 1)]
    hs = [md5_int_py("wn:" + g) for g in grams]
    return {min(hs[j:j + w]) for j in range(max(len(hs) - w, 0) + 1)}


def test_winnow_matches_python_reference(spark):
    docs = [(1, "a b c d e f g h i j"),
            (2, "x y z a b c d e f q r"),   # shares the 6-run "a b c d e f"
            (3, "short doc")]                # shorter than k: one gram
    d = spark.createDataFrame(docs, "doc_id int, text string")
    rows = winnow_fingerprints(d, "text", "doc_id", k=3, w=4).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, set()).add(r.fp)
    for i, t in docs:
        assert got[i] == _py_winnow(t), f"doc {i}"
    # the winnowing guarantee: a shared run of >= k+w-1 = 6 words
    # leaves >= 1 shared fingerprint
    assert got[1] & got[2]
    # density: never more fingerprints than grams
    assert len(got[1]) <= len("a b c d e f g h i j".split()) - 2


def test_weighted_priority_sample_pps_and_determinism(spark):
    from python_mecab_ner_spark.operators.sample import (
        weighted_priority_sample)
    # one stratum, 200 rows: weight 1000 vs weight 1 — the heavy rows
    # must dominate a k=20 pps sample (each heavy priority is ~1000x
    # smaller); and the sample is a pure function of (id, weight)
    rows = [(i, "s", 1000 if i % 2 == 0 else 1) for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id int, source string, w int")
    got = weighted_priority_sample(d, "doc_id", "w", "source",
                                   k=20).collect()
    assert len(got) == 20
    heavy = sum(1 for r in got if r.w == 1000)
    assert heavy >= 18          # pps: inclusion ~ weight
    again = weighted_priority_sample(d.repartition(7), "doc_id", "w",
                                     "source", k=20).collect()
    assert sorted(r.doc_id for r in got) == \
        sorted(r.doc_id for r in again)


def test_script_mix_ppm_golden(spark):
    from python_mecab_ner_spark.functions.text import script_mix_ppm
    d = spark.createDataFrame([(1, "ab 12 한글!")], "i int, t string")
    r = d.select(*script_mix_ppm(F.col("t"))).collect()[0]
    # 10 chars: 2 latin, 2 digit, 2 hangul, 3 spaces? "ab 12 한글!"
    # = a b ' ' 1 2 ' ' 한 글 '!' -> 9 chars: 2/2/2/2 spaces=2, punct 1
    assert r.latin_ppm == 222_222
    assert r.digit_ppm == 222_222
    assert r.hangul_ppm == 222_222
    assert r.space_ppm == 222_222


def test_normalize_text_goldens(spark):
    rows = spark.createDataFrame(
        [(1, "“A—B”  it’s – x"),
         (2, "plain text"),
         (3, "NB SP  run")],
        "i int, t string").select(
            "i", normalize_text(F.col("t")).alias("n")).collect()
    got = {r.i: r.n for r in rows}
    assert got[1] == '"a-b" it\'s - x'
    assert got[2] == "plain text"
    assert got[3] == "nb sp run"
