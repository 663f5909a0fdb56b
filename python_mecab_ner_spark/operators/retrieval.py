"""Lexical term mining over a vocabulary or a token table:

- symspell_alias_pairs: edit-distance alias candidates by symmetric
  deletion (the gazetteer typo/variant generator);
- textrank_keywords: TextRank keywords by integer weighted PageRank
  over the word co-occurrence graph;
- class_tfidf_from_tokens: the top-k distinctive terms per class.

All scores are integers, so rankings are bit-identical across engines
and python twins can check them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _char_deletions(col):
    """array<string> of every single-character deletion of ``col``
    (a length-L string yields L strings of length L-1; '' for L=1)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.concat(col.substr(F.lit(1), i - 1),
                           col.substr(i + 1, F.length(col))))


def symspell_alias_pairs(terms: DataFrame, term_col: str = "term",
                         max_len: int = 24,
                         max_dist: int = 1) -> DataFrame:
    """Edit-distance <= ``max_dist`` (1 or 2) alias candidates over a
    vocabulary by SYMMETRIC DELETION (SymSpell): every term emits
    itself plus its deletions up to depth max_dist as join keys; two
    terms within Levenshtein distance d <= max_dist MUST share a key
    (delete the edited positions from each side), so the verification
    join touches only key-colliding pairs — never the all-pairs
    product a naive fuzzy join needs.  The gazetteer typo/variant
    alias-candidate generator (OCR slips, elided particles) feeding
    the canonicalization ladder; distance 2 catches the double-slip
    OCR variants distance 1 misses (round-4 verdict task 7).

    Verification = exact levenshtein(a, b) <= max_dist (both engines
    provide it bit-identically); a < b canonicalizes the pair.  Terms
    longer than ``max_len`` are dropped (deletion fan-out is O(len)
    per term at depth 1 and O(len^2/2) at depth 2 — the cap bounds
    it, a documented truncation).

    Scale shape: deletion-key explode (fan-out 1+L at depth 1,
    ~1+L+L(L-1)/2 distinct keys at depth 2, both bounded by max_len),
    one equi-join on the key, distinct pairs, then the cheap scalar
    verify — O(vocab x len^max_dist) join input, the SymSpell
    guarantee.  The depth-1 array is MATERIALIZED in its own
    projection before the depth-2 transform references it (Spark HOFs
    are interpreted with no CSE — an inline _d1 would re-evaluate per
    element).  Returns (term_a, term_b) at distance 1 for max_dist=1
    (schema-stable for distance-1 callers); (term_a, term_b, dist) for
    max_dist=2."""
    assert max_dist in (1, 2), "max_dist must be 1 or 2"
    t = (terms.select(F.col(term_col).alias("term")).distinct()
         .where((F.length("term") <= max_len) & (F.length("term") > 0))
         .withColumn("_d1", _char_deletions(F.col("term"))))
    if max_dist == 1:
        keyarr = F.concat(F.array(F.col("term")), F.col("_d1"))
    else:
        t = t.withColumn(
            "_d2", F.flatten(F.transform(F.col("_d1"),
                                         lambda d: _char_deletions(d))))
        keyarr = F.array_distinct(
            F.concat(F.array(F.col("term")), F.col("_d1"),
                     F.col("_d2")))
    keys = (t.select("term", F.explode(keyarr).alias("key"))
            .distinct())
    a, b = keys.alias("a"), keys.alias("b")
    cand = (a.join(b, (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.term") < F.col("b.term")))
            .select(F.col("a.term").alias("term_a"),
                    F.col("b.term").alias("term_b"))
            .distinct())
    verified = cand.where(
        F.levenshtein("term_a", "term_b") <= max_dist)
    if max_dist == 1:
        return verified.select("term_a", "term_b")
    return verified.select(
        "term_a", "term_b",
        F.levenshtein("term_a", "term_b").cast("int").alias("dist"))


def textrank_keywords(docs: DataFrame, text_col: str, id_col: str,
                      n_stop: int = 20, window: int = 2,
                      iters: int = 3) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004), integer
    exact: build the word co-occurrence graph (words within `window`
    positions of each other in the ORIGINAL token sequence, both
    endpoints non-stopword; edge weight = corpus-wide co-occurrence
    count) and rank words by weighted PageRank over it.  The
    iterative, graph-global member of the term-mining family: it
    rewards words that keep company with other well-connected words,
    so its top set differs from per-doc tf-idf whenever high-df hubs
    chain together.

    The stopword set is DERIVED from the corpus: the n_stop
    highest-document-frequency tokens, ties by word asc, collected
    once (dimension-sized) and inlined as a literal.  Co-occurrence
    pairs come from per-doc lead() windows (one sort per doc
    partition — no token self-join), are canonicalized (least,
    greatest) so the graph is undirected, then mirrored into
    directed edges for
    pagerank_weighted_int (operators/graph.py), whose all-integer
    recurrence makes the unrolled-SQL oracle bit-exact.

    Scale shape: tokenization + lead windows are one per-doc pass;
    the co-occurrence groupBy is vocabulary^2-bounded but in practice
    ~vocab * window; PR iterations are vocabulary-sized joins.  At
    100 TB the word graph is tiny relative to the corpus — the only
    corpus-sized stage is the single token scan.

    Returns (word, pr) for every non-stop word in the graph."""
    from pyspark.sql import Window

    from .graph import pagerank_weighted_int
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda s: s != F.lit(""))
    tok = docs.select(F.col(id_col).alias("doc"),
                      F.posexplode(toks).alias("pos", "word"))
    stop_rows = (tok.select("doc", "word").distinct()
                 .groupBy("word").agg(F.count("*").alias("df"))
                 .orderBy(F.col("df").desc(), F.col("word").asc())
                 .limit(n_stop).collect())
    stops = [r["word"] for r in stop_rows]

    def ok(c):
        base = c.isNotNull() & (c != F.col("word"))
        return base & ~c.isin(stops) if stops else base
    w = Window.partitionBy("doc").orderBy("pos")
    nb = tok.select(
        "word",
        *[F.lead("word", i).over(w).alias(f"n{i}")
          for i in range(1, window + 1)])
    if stops:
        nb = nb.where(~F.col("word").isin(stops))
    pair = None
    for i in range(1, window + 1):
        c = F.col(f"n{i}")
        p = (nb.where(ok(c))
             .select(F.least(F.col("word"), c).alias("a"),
                     F.greatest(F.col("word"), c).alias("b")))
        pair = p if pair is None else pair.unionByName(p)
    cooc = pair.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("w"))
    edges = (cooc.select(F.col("a").alias("src"),
                         F.col("b").alias("dst"), "w")
             .unionByName(cooc.select(F.col("b").alias("src"),
                                      F.col("a").alias("dst"), "w")))
    # two consumers with non-exchange-identical subtrees per PR round
    # (edge join + out-weight agg) -> persist the tiny word graph
    # (the q141/q100 persist rule), released via unpersist_input
    edges = edges.persist()
    pr = pagerank_weighted_int(edges, iters=iters)
    res = pr.select(F.col("node").alias("word"),
                    F.col("pr").cast("bigint").alias("pr"))
    res.unpersist_input = lambda: edges.unpersist()
    return res


def class_tfidf_from_tokens(tok: DataFrame, k: int = 5) -> DataFrame:
    """Class-level tf-idf over an already-built (cls, term) occurrence
    table, so the same scoring runs on mention-context tokens
    (kg_community_labels) or any custom term universe: top-k terms
    per class by ctf * bitlen(C div cf), where ctf is the term's
    count in the class, cf the number of classes holding it and C
    the class count; ties by term asc."""
    from pyspark.sql import Window
    ctf = tok.groupBy("cls", "term").agg(
        F.count("*").cast("bigint").alias("ctf"))
    cf = (ctf.groupBy("term")
          .agg(F.count("*").cast("bigint").alias("cf")))
    # class count derived LAZILY from the already-aggregated ctf
    # table (exchange-identical subtree -> ReusedExchange dedups the
    # scan); an eager .count() here executed the whole upstream
    # token pipeline twice (review finding)
    ncls = ctf.agg(F.countDistinct("cls").alias("_ncls"))
    scored = (ctf.join(F.broadcast(cf), "term")
              .crossJoin(F.broadcast(ncls))
              .withColumn(
                  "score",
                  (F.col("ctf")
                   * F.length(F.bin(F.expr("_ncls div cf"))))
                  .cast("bigint"))
              .drop("_ncls"))
    w = Window.partitionBy("cls").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("cls", F.col("rank").cast("int").alias("rank"),
                    "term", "ctf", "cf", "score"))
