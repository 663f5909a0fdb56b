"""Corpus-quality operators: within-doc repetition (Gopher duplicate
n-gram rule) — hand-computed goldens + edge cases."""

import duckdb
from pyspark.sql import functions as F

from python_mecab_ner_spark.functions.text import (duplicate_ngram_ppm,
                                                   duplicate_ngram_ppm_sql)

DOCS = [
    # "a b a b a": bigrams [a b, b a, a b, b a] -> 4 total, 2 distinct
    # -> 2/4 = 500000 ppm
    (1, "a b a b a"),
    (2, "x y z"),            # bigrams [x y, y z]: all distinct -> 0
    (3, "w"),                # 1 word: single truncated gram "w" -> 0
    (4, ""),                 # empty -> 0 grams -> 0
    (5, "t t t t"),          # [t t, t t, t t] -> 3 total 1 distinct
]


def test_duplicate_ngram_ppm_golden(spark):
    d = spark.createDataFrame(DOCS, "doc_id int, text string")
    got = {r.doc_id: r.ppm for r in
           d.select("doc_id", duplicate_ngram_ppm(F.col("text"), n=2)
                    .alias("ppm")).collect()}
    assert got == {1: 500000, 2: 0, 3: 0, 4: 0, 5: 666666}


def test_duplicate_ngram_ppm_duckdb_twin():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, '{t}')" for i, t in DOCS)
                + ") v(doc_id, text)")
    rows = con.execute(
        f"SELECT doc_id, {duplicate_ngram_ppm_sql('text', n=2)} AS ppm "
        f"FROM documents ORDER BY doc_id").fetchall()
    assert dict(rows) == {1: 500000, 2: 0, 3: 0, 4: 0, 5: 666666}


def test_duplicate_ngram_ppm_cross_engine_random(spark):
    """Seeded random texts (varied token counts incl. sub-n docs,
    repeated runs, irregular whitespace) — Spark and the DuckDB twin
    must agree on every row, pinning the tail-truncation and
    empty-gram semantics across engines."""
    import random
    rng = random.Random(11)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    rows = []
    for i in range(200):
        n = rng.randint(0, 12)
        words = [rng.choice(vocab) for _ in range(n)]
        sep = rng.choice([" ", "  ", " \t "])
        rows.append((i, sep.join(words)))
    d = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.ppm for r in
           d.select("doc_id", duplicate_ngram_ppm(F.col("text"), n=2)
                    .alias("ppm")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    exp = dict(con.execute(
        f"SELECT doc_id, {duplicate_ngram_ppm_sql('text', n=2)} "
        f"FROM documents").fetchall())
    assert got == exp
