"""Round-3 late additions: PII scrubbing, corpus-level frequent-line
dedup, k-hop graph expansion, integer-PMI collocations — hand-computed
goldens + cross-engine twins where the function has one."""

import duckdb
from pyspark.sql import functions as F

from python_mecab_ner_spark.functions.text import (pii_counts,
                                                   pii_counts_sql,
                                                   pii_redact,
                                                   pii_redact_sql)
from python_mecab_ner_spark.operators.colloc import bigram_pmi
from python_mecab_ner_spark.operators.dedup import (doc_lines,
                                                    frequent_line_dedup)
from python_mecab_ner_spark.operators.graph import khop_neighbors

PII_DOCS = [
    (1, "call 010-123-4567 or mail a.b@x.co id 900101-1234567 end"),
    (2, "no pii here at all"),
    # digit run glued to a word char: \b forbids the ID match
    (3, "serial x123456-1234567 stays"),
    # two emails, back to back phone styles
    (4, "a@b.com c.d@e.org tel 02-555-0100"),
]

PII_GOLD = {
    1: (1, 1, 1, "call <PHONE> or mail <EMAIL> id <ID> end"),
    2: (0, 0, 0, "no pii here at all"),
    3: (0, 0, 0, "serial x123456-1234567 stays"),
    4: (0, 1, 2, "<EMAIL> <EMAIL> tel <PHONE>"),
}


def test_pii_spark_golden(spark):
    d = spark.createDataFrame(PII_DOCS, "doc_id int, text string")
    rows = d.select("doc_id", *pii_counts(F.col("text")),
                    pii_redact(F.col("text")).alias("red")).collect()
    got = {r.doc_id: (r.n_id, r.n_phone, r.n_email, r.red) for r in rows}
    assert got == PII_GOLD


def test_pii_duckdb_twin():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, '{t}')" for i, t in PII_DOCS)
                + ") v(doc_id, text)")
    counts = ", ".join(f"{sql} AS {name}"
                       for sql, name in pii_counts_sql("text"))
    rows = con.execute(
        f"SELECT doc_id, {counts}, {pii_redact_sql('text')} AS red "
        f"FROM documents ORDER BY doc_id").fetchall()
    got = {r[0]: tuple(r[1:]) for r in rows}
    assert got == PII_GOLD


def test_frequent_line_dedup_newline_mode(spark):
    d = spark.createDataFrame(
        [(1, "foo\nbar\nbaz"), (2, "foo\nqux"), (3, "foo\nbar")],
        "doc_id int, text string")
    got = {r.doc_id: (r.n_lines, r.n_dropped) for r in
           frequent_line_dedup(d, "text", "doc_id", min_df=2).collect()}
    # df: foo=3, bar=2, baz=1, qux=1 -> frequent {foo, bar}
    assert got == {1: (3, 2), 2: (2, 1), 3: (2, 2)}


def test_doc_lines_chunk_mode(spark):
    d = spark.createDataFrame([(1, "a b c d e"), (2, ""), (3, "  x  ")],
                              "doc_id int, text string")
    rows = doc_lines(d, "text", "doc_id", chunk=2).collect()
    got = sorted((r.doc_id, r.line) for r in rows)
    # non-overlapping 2-token chunks, ragged tail kept, empty docs drop
    assert got == [(1, "a b"), (1, "c d"), (1, "e"), (3, "x")]


def test_khop_two_hops_distinct(spark):
    # 1->2, 2->3, 1->3: the direct edge must not double-count node 3
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)],
                              "src bigint, dst bigint")
    rows = khop_neighbors(e, k=2).collect()
    got = {}
    for r in rows:
        got.setdefault(r.node, set()).add(r.nbr)
    assert got == {1: {2, 3}, 2: {3}}


def test_khop_cycle_excludes_self(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                              "src bigint, dst bigint")
    rows = khop_neighbors(e, k=2).collect()
    got = {}
    for r in rows:
        got.setdefault(r.node, set()).add(r.nbr)
    # 2 hops around a 3-cycle reaches both other nodes, never self
    assert got == {1: {2, 3}, 2: {3, 1}, 3: {1, 2}}


def test_bigram_pmi_golden(spark):
    ctx = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b"), (1, 2, "a"), (1, 3, "b"),
         (2, 0, "a"), (2, 1, "b")],
        "url int, idx int, word string")
    rows = bigram_pmi(ctx, min_count=1).collect()
    got = {(r.w1, r.w2): (r.c_xy, r.pmi_ppm) for r in rows}
    # N=6, c_a=3, c_b=3; (a,b) 3x -> 3*6e6/9; (b,a) 1x -> 6e6/9
    assert got == {("a", "b"): (3, 2000000), ("b", "a"): (1, 666666)}


def test_quantize_embeddings_golden(spark):
    from python_mecab_ner_spark.operators.ann import quantize_embeddings
    d = spark.createDataFrame([(1, [0.5, -0.5, 1.5, -1.5, 0.0])],
                              "vec_id int, embedding array<float>")
    [row] = quantize_embeddings(d).collect()
    # floor(0.5*127)=63, floor(-0.5*127)=-64, clip at +-[127,-128]
    assert row.qemb == [63, -64, 127, -128, 0]


def test_triangle_counts_k4(spark):
    from python_mecab_ner_spark.operators.graph import _closed_triangles
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = spark.createDataFrame(k4, "a bigint, b bigint")
    tris = [tuple(r) for r in _closed_triangles(e).collect()]
    # K4 holds four triangles, each closed exactly once; every node
    # is a corner of three of them
    assert len(tris) == 4 and len({frozenset(t) for t in tris}) == 4
    got = {}
    for t in tris:
        for n in t:
            got[n] = got.get(n, 0) + 1
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_pendant_and_reverse_edges(spark):
    from python_mecab_ner_spark.operators.graph import ktruss
    # one triangle + a pendant; reverse duplicates must not double-count
    # the triangle support of an edge
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 4)],
        "src bigint, dst bigint")
    got = {(r.a, r.b): r.support
           for r in ktruss(e, k=3, rounds=1).collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_doc_surprisal_golden(spark):
    from python_mecab_ner_spark.operators.colloc import doc_surprisal
    ctx = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "c")],
        "url int, word string")
    got = {r.url: (r.n_toks, r.sum_idf, r.rarity_milli)
           for r in doc_surprisal(ctx).collect()}
    # N=5: idf(a)=bitlen(5 div 3)=1, idf(b)=idf(c)=bitlen(5)=3
    assert got == {1: (3, 5, 1666), 2: (2, 4, 2000)}


# ---- URL canonicalization -------------------------------------------------

URL_GOLD = [
    ("HTTP://News.Example.COM/art/3#sec", "http://news.example.com/art/3"),
    # slash-before-query collapses; utm-only query drops entirely
    ("http://a.com/p/?utm_source=x", "http://a.com/p"),
    # utm run of 3 (two bounded passes + tail pass)
    ("http://a.com/p?utm_a=1&utm_b=2&utm_c=3", "http://a.com/p"),
    # utm interleaved with kept params
    ("http://a.com/p?utm_a=1&id=2&utm_b=3", "http://a.com/p?id=2"),
    ("http://a.com/p?id=2&utm_b=3#frag", "http://a.com/p?id=2"),
    # path case preserved, host lowered, trailing slashes stripped
    ("https://A.B.Com/Mixed/Case//", "https://a.b.com/Mixed/Case"),
    ("http://a.com/", "http://a.com"),
    # schemeless input passes through the chain instead of erasing
    ("Example.com/p/?utm_a=1#f", "Example.com/p"),
]


def test_canonical_url_goldens(spark):
    from python_mecab_ner_spark.functions.text import canonical_url
    d = spark.createDataFrame(URL_GOLD, "u string, want string")
    bad = (d.select("u", "want", canonical_url(F.col("u")).alias("got"))
           .where(F.col("got") != F.col("want")).collect())
    assert bad == [], bad


def test_canonical_url_cross_engine_agreement(spark):
    """Spark (Java regex) vs DuckDB (RE2) byte-agreement on a
    generated messy-URL population — the patterns avoid every
    dialect-divergent construct, so outputs must be identical."""
    from python_mecab_ner_spark.functions.text import (canonical_url,
                                                       canonical_url_sql)
    urls = []
    for i in range(300):
        scheme = ["http://", "HTTP://", "https://"][i % 3]
        host = ["Ex.COM", "ex.com", "sub.Ex.Org"][i % 3 if i % 2 else 0]
        path = f"/p{i % 17}" + ("/" if i % 5 == 0 else "")
        q = ["", "?utm_s=1", f"?id={i % 7}", f"?utm_a=1&id={i % 7}&utm_b=2",
             "?utm_a=1&utm_b=2&utm_c=3"][i % 5]
        frag = "#x" if i % 4 == 0 else ""
        urls.append((i, scheme + host + path + q + frag))
    d = spark.createDataFrame(urls, "i long, u string")
    got = {r.i: r.c for r in
           d.select("i", canonical_url(F.col("u")).alias("c")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, u VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", urls)
    want = dict(con.execute(
        f"SELECT i, {canonical_url_sql('u')} FROM t").fetchall())
    assert got == want


# ---- randomized agreement sweeps ------------------------------------------

def test_chunk_documents_randomized_vs_python(spark):
    """Random token counts (incl. the size/stride boundary cases) vs a
    direct python chunker — exact (doc, idx, toks) agreement."""
    import random

    from python_mecab_ner_spark.operators.pack import chunk_documents
    rng = random.Random(7)
    docs = [(i, " ".join(f"w{rng.randrange(50)}"
                         for _ in range(rng.choice(
                             [0, 1, 23, 24, 25, 31, 32, 33, 100]))))
            for i in range(60)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_id, r.chunk_idx): r.chunk_toks
           for r in chunk_documents(d, "text", "doc_id",
                                    size=32, stride=24).collect()}
    want = {}
    for i, text in docs:
        toks = text.split()
        for ci, s in enumerate(range(0, max(len(toks), 1), 24)):
            chunk = toks[s:s + 32]
            if chunk:
                want[(i, ci)] = len(chunk)
    assert got == want
