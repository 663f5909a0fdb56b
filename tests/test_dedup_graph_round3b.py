"""Round-3 late additions, batch 2: weighted priority sampling, script
mix, text normalization — hand-computed goldens on tiny corpora."""

from pyspark.sql import functions as F

from python_mecab_ner_spark.functions.text import normalize_text


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
