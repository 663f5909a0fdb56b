"""Lexical retrieval scoring: integer fixed-point BM25.

The retrieval side of a data engine (find the documents most relevant
to a query; rank eval-set neighbors; build hard negatives for
embedding training) is BM25 long before it is ANN.  Classic BM25 is
float-valued; this formulation clears all fractions to 64-bit integer
arithmetic so ranking is bit-identical across engines and the oracle
hash-matches:

    idf(t)   = bit_length(N div df_t)          (the q38 integer-idf family)
    k1 = 6/5, b = 3/4 (the standard 1.2 / 0.75), avgdl = floor mean
    tf-part  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
             = tf*44*avgdl / (20*avgdl*tf + 6*avgdl + 18*dl)   [cleared]
    score_milli(d) = sum_t floor(idf * tf * 44000 * avgdl
                                 / (20*avgdl*tf + 6*avgdl + 18*dl))

Monotone in the float score for fixed (dl, avgdl); the milli scale
keeps the floor from collapsing ranks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_topk(ctx: DataFrame, query_terms: Sequence[str], k: int = 20,
              id_col: str = "url", word_col: str = "word") -> DataFrame:
    """Top-k documents by integer-milli BM25 for a bag of query terms,
    over a (doc, word) token stream like _doc_context / g["context"].

    Columns: (doc_id, n_terms, bm25_milli) ordered score desc, id asc.

    Scale shape: the query-term filter prunes the token stream BEFORE
    any shuffle (predicate on a literal IN-list, pushed to the scan
    when ctx is a direct read); tf and df are map-side-combinable
    aggregates over the pruned stream; document length is one
    aggregate over the full stream (shared with every other stats
    consumer when ctx is the persisted context table); corpus totals
    and the per-term idf dimension are broadcast.  Final top-k is
    TakeOrderedAndProject — no global sort materializes."""
    terms = [t for t in query_terms]
    doc = F.col(id_col)
    dl = ctx.groupBy(doc.alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("dl"))
    totals = F.broadcast(dl.agg(
        F.sum("dl").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("n_docs")))
    qt = ctx.where(F.col(word_col).isin(terms)).select(
        doc.alias("doc_id"), F.col(word_col).alias("word"))
    tf = qt.groupBy("doc_id", "word").agg(
        F.count("*").cast("bigint").alias("tf"))
    dfq = (qt.distinct().groupBy("word")
           .agg(F.count("*").cast("bigint").alias("df")))
    avgdl = F.expr("tot div n_docs")
    idf = F.length(F.bin(F.expr("n_docs div df"))).cast("bigint")
    scored = (tf.join(F.broadcast(dfq), "word")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(totals))
              .withColumn("avgdl", avgdl)
              .withColumn("idf", idf)
              .withColumn(
                  "contrib",
                  F.expr("(idf * tf * 44000 * avgdl) div "
                         "(20 * avgdl * tf + 6 * avgdl + 18 * dl)")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_terms"),
                 F.sum("contrib").cast("bigint").alias("bm25_milli"))
            .orderBy(F.col("bm25_milli").desc(), F.col("doc_id").asc())
            .limit(k))


def rrf_fuse(rankings: Sequence[DataFrame], id_col: str = "doc_id",
             k: int = 60, scale: int = 1_000_000) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N candidate
    rankings — the standard hybrid-retrieval combiner (BM25 + dense
    ANN + any other scorer) that needs no score calibration because
    it consumes only RANKS:

        rrf_micro(d) = sum_systems  scale div (k + rank_s(d))

    in integer fixed-point (floor division), so fused ordering is
    bit-identical across engines — float 1/(k+r) sums are not.  Each
    input DataFrame carries (id_col, rank) with rank 1-based; a doc
    missing from a system contributes nothing (the RRF convention).
    Returns (id, n_systems, rrf_micro).

    Scale shape: inputs are top-k candidate lists (query-result-
    sized, NOT corpus-sized) — the union + one combinable aggregate
    is trivially cheap; all the heavy lifting stays in the upstream
    retrievers."""
    parts = [r.select(F.col(id_col),
                      F.expr(f"{scale} div ({k} + rank)").alias("_pt"))
             for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (u.groupBy(id_col)
            .agg(F.count("*").cast("int").alias("n_systems"),
                 F.sum("_pt").cast("bigint").alias("rrf_micro")))


def tfidf_cosine_pairs(ctx: DataFrame, id_col: str = "url",
                       word_col: str = "word", max_df: int = 64,
                       min_cos2_ppm: int = 250_000) -> DataFrame:
    """All-pairs document similarity over an inverted index — the
    term-at-a-time sparse-vector analogue of q16's shingle Jaccard,
    catching topical near-dups that exact-shingle overlap misses:
    documents are tf*idf vectors, pairs are generated ONLY through
    shared terms, and similarity is squared cosine in integer ppm:

        w(d,t)    = tf * bitlen(N div df_t)      (q38 integer idf)
        dot(a,b)  = sum_t w(a,t) * w(b,t)
        cos2_ppm  = dot^2 * 1e6 div (|a|^2 * |b|^2)

    Squared cosine (not cosine) keeps everything in 64-bit integers —
    no sqrt — and is monotone in cosine for the non-negative vectors
    tf*idf produces, so thresholding/ranking is unchanged.  Returns
    (d1, d2, dot, cos2_ppm) with d1 < d2.

    Scale shape: the inverted-index self-join is keyed by term with
    df capped at max_df BEFORE the join (the q16 DF-cap lever —
    stopword-like terms contribute O(df^2) pairs and near-zero idf
    signal), so per-term fan-out is bounded at max_df^2 at any
    corpus size; norms are one combinable per-doc aggregate joined
    back on the doc key.  The documented approximation: dropped
    high-df terms are excluded from BOTH dots and norms (consistent,
    oracle-mirrored)."""
    tf = (ctx.groupBy(F.col(id_col).alias("d"),
                      F.col(word_col).alias("w"))
          .agg(F.count("*").alias("tf")))
    dft = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = ctx.select(F.col(id_col)).distinct() \
        .agg(F.count("*").alias("n_docs"))
    kept = (tf.join(F.broadcast(dft.where(F.col("df") <= max_df)), "w")
            .crossJoin(F.broadcast(n_docs))
            .select("d", "w",
                    (F.col("tf")
                     * F.length(F.bin(F.expr("n_docs div df"))))
                    .cast("bigint").alias("wt")))
    norms = kept.groupBy("d").agg(
        F.sum(F.col("wt") * F.col("wt")).alias("n2"))
    a, b = kept.alias("a"), kept.alias("b")
    dots = (a.join(b, (F.col("a.w") == F.col("b.w"))
                   & (F.col("a.d") < F.col("b.d")))
            .groupBy(F.col("a.d").alias("d1"), F.col("b.d").alias("d2"))
            .agg(F.sum(F.col("a.wt") * F.col("b.wt")).alias("dot")))
    return (dots
            .join(norms.select(F.col("d").alias("d1"),
                               F.col("n2").alias("na2")), "d1")
            .join(norms.select(F.col("d").alias("d2"),
                               F.col("n2").alias("nb2")), "d2")
            .select("d1", "d2", F.col("dot").cast("bigint").alias("dot"),
                    F.expr("(dot * dot * 1000000) div (na2 * nb2)")
                    .cast("bigint").alias("cos2_ppm"))
            .where(F.col("cos2_ppm") >= min_cos2_ppm))


def kwic_snippets(docs: DataFrame, text_col: str, id_col: str,
                  term: str, window: int = 3) -> DataFrame:
    """Keyword-in-context concordance: for every occurrence of `term`
    in the whitespace-token stream, the +-window token snippet — the
    annotation/eyeballing primitive behind every "show me how the
    corpus uses X" request (gazetteer curation, label debugging,
    benchmark-leak review).

    Entirely per-row array expressions (split -> indexed transform ->
    filter -> explode -> slice): the occurrence positions and the
    snippet slice never leave the row, so the plan is scan ->
    project — zero shuffle, zero UDF, whole-stage codegen.  The same
    shape streams (stateless) if pointed at readStream pages.

    Returns (doc_id, pos, snippet) with pos the 0-based token index."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    idxs = F.filter(
        F.transform(toks, lambda x, i: F.when(x == term, i)
                    .otherwise(F.lit(-1))),
        lambda v: v >= 0)
    lo = F.greatest(F.col("pos") - window, F.lit(0))
    hi = F.least(F.col("pos") + window, F.size(F.col("_w")) - 1)
    return (docs.select(F.col(id_col).alias("doc_id"),
                        toks.alias("_w"),
                        F.explode(idxs).alias("pos"))
            .select("doc_id", F.col("pos").cast("bigint").alias("pos"),
                    F.concat_ws(" ", F.slice(F.col("_w"), lo + 1,
                                             hi - lo + 1))
                    .alias("snippet")))


def postings_table(docs: DataFrame, text_col: str, id_col: str,
                   min_df: int = 2, sample_docs: int = 8,
                   id_bits: int = 40) -> DataFrame:
    """Inverted-index construction: per term, document frequency,
    collection frequency, the top-tf document (ties -> min doc id,
    via the house packed-integer max — one combinable aggregate, no
    window), and a deterministic posting sample (the first
    sample_docs doc ids in sorted order).  This is the index-build
    half of the retrieval stack (bm25_topk/q88 consume it); shipped
    as its own operator because index construction at corpus scale is
    a deliverable of its own (search, dedup-by-lookup, eval-neighbor
    mining).

    Scale shape: token explode -> (term, doc) count aggregate ->
    term-keyed final aggregate; every aggregate is map-side
    combinable and keyed by the term (high cardinality, no hot key
    after the min_df cut is applied POST-aggregate).  The posting
    sample is sort_array(collect_set(...))[0:n] — bounded per term by
    slice, deterministic by the sort.  Requires doc ids < 2^id_bits
    and tf < 2^(62-id_bits)."""
    cap = 1 << id_bits
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                    r"\s+", " "), " ")
    t = (docs.select(F.col(id_col).alias("doc_id"),
                     F.explode(toks).alias("term"))
         .where(F.col("term") != ""))
    tf = t.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    packed = (F.col("tf").cast("bigint") * F.lit(cap)
              + (F.lit(cap - 1) - F.col("doc_id").cast("bigint")))
    agg = (tf.groupBy("term")
           .agg(F.count("*").cast("bigint").alias("df"),
                F.sum("tf").cast("bigint").alias("cf"),
                F.max(packed).alias("_mx"),
                F.slice(F.sort_array(F.collect_set("doc_id")),
                        1, sample_docs).alias("_sample")))
    return (agg.where(F.col("df") >= min_df)
            .select("term", "df", "cf",
                    (F.lit(cap - 1) - F.col("_mx")
                     .bitwiseAND(F.lit(cap - 1)))
                    .cast("bigint").alias("top_doc"),
                    F.shiftright(F.col("_mx"), id_bits).cast("bigint")
                    .alias("top_tf"),
                    F.array_join(F.transform(
                        F.col("_sample"),
                        lambda d: d.cast("string")), ",")
                    .alias("posting_sample")))


def phrase_search(docs: DataFrame, text_col: str, id_col: str,
                  phrase: str) -> DataFrame:
    """Exact phrase query over a POSITIONAL postings join — the
    retrieval capability a bag-of-words index (postings_table/BM25)
    cannot answer: documents containing the words of ``phrase``
    CONSECUTIVELY, with match counts and first position.

    The standard positional-index algorithm: per phrase term i, the
    postings list (doc, pos) filtered to that term, joined on
    (doc, pos - i) so rows that survive all joins are exact phrase
    starts.  The first (rarest-is-better left to the optimizer —
    term postings are filtered BEFORE any shuffle, so each join input
    is |postings(term)|, never the corpus) join keys on (doc, start).

    Scale shape: ONE tokenize/posexplode scan filtered to the phrase
    vocabulary (pushdown-friendly isin), then k-1 equi-joins on the
    (doc, start) composite key — co-partitioned, thin inputs.
    Returns (doc_id, n_matches, first_pos)."""
    words = phrase.lower().split()
    assert len(words) >= 2, "phrase needs at least two words"
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                    r"\s+", " "), " ")
    pos = (docs.select(F.col(id_col).alias("doc_id"),
                       F.posexplode(toks).alias("pos", "term"))
           .where(F.col("term").isin(words)))
    out = None
    for i, w in enumerate(words):
        side = (pos.where(F.col("term") == w)
                .select("doc_id", (F.col("pos") - i).alias("start")))
        out = side if out is None else out.join(side,
                                                ["doc_id", "start"])
    return (out.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_matches"),
                 F.min("start").cast("bigint").alias("first_pos")))


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
    (schema-stable for q168); (term_a, term_b, dist) for max_dist=2."""
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


def rake_keyphrases(docs: DataFrame, text_col: str, id_col: str,
                    n_stop: int = 20, max_len: int = 4,
                    min_occ: int = 2) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010), integer-exact:
    candidate phrases are maximal runs of non-stopword tokens, each
    word scores deg(w)/freq(w) (degree = summed length of the
    phrases it appears in — words that keep company in long phrases
    outrank words that appear alone), and a phrase scores the sum of
    its word scores.  The keyphrase harvest that seeds KG attribute
    vocabularies and document tagging — term_salience (q152) ranks
    single terms per doc, collocations (q50) rank bigrams by PMI;
    RAKE is the multi-word-phrase member of that family with a
    corpus-global score.

    No curated stopword list exists for an arbitrary corpus, so the
    delimiter set is DERIVED: the n_stop highest-document-frequency
    tokens (ties broken by word asc — the deterministic twin of
    RAKE's function-word intuition: df-saturated tokens carry no
    phrase content).  The list is dimension-sized, collected once
    and broadcast as a literal.

    Scores are integer ppm (deg * 1e6 div freq; div, never
    float /), so phrase scores hash-match cross-engine.  freq/deg
    are computed over the CAPPED candidate set (phrases longer than
    max_len are crawler-trap word salads, dropped BEFORE scoring —
    documented deviation from uncapped classic RAKE, mirrored by the
    oracle).

    Shape: one posexplode (the token table is reused for the df
    ranking and the phrase build), ONE per-doc window (running
    stopword count = phrase group id — q04's islands trick, keyed
    by doc so no single-partition sort), then combinable aggregates
    only; word-score join is vocabulary-sized (broadcastable).

    Returns (phrase, n_occ, plen, score_ppm) for phrases occurring
    >= min_occ times."""
    from pyspark.sql import Window
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda s: s != F.lit(""))
    tok = docs.select(F.col(id_col).alias("doc"),
                      F.posexplode(toks).alias("pos", "word"))
    stop_rows = (tok.select("doc", "word").distinct()
                 .groupBy("word").agg(F.count("*").alias("df"))
                 .orderBy(F.col("df").desc(), F.col("word").asc())
                 .limit(n_stop).collect())
    stops = [r["word"] for r in stop_rows]
    is_stop = F.col("word").isin(stops) if stops else F.lit(False)
    w = (Window.partitionBy("doc").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    member = (tok.withColumn("g", F.sum(is_stop.cast("int")).over(w))
              .where(~is_stop))
    member = member.withColumn(
        "plen", F.count("*").over(Window.partitionBy("doc", "g")))
    member = member.where(F.col("plen") <= max_len)
    wscore = (member.groupBy("word")
              .agg(F.count("*").alias("freq"),
                   F.sum("plen").alias("deg"))
              .select("word", F.expr("(deg * 1000000) div freq")
                      .cast("bigint").alias("score_ppm")))
    phr = (member.join(F.broadcast(wscore), "word")
           .groupBy("doc", "g")
           .agg(F.concat_ws(
                    " ",
                    F.transform(F.sort_array(F.collect_list(
                        F.struct("pos", "word"))),
                        lambda s: s["word"])).alias("phrase"),
                F.max("plen").cast("bigint").alias("plen"),
                F.sum("score_ppm").cast("bigint").alias("score_ppm")))
    return (phr.groupBy("phrase")
            .agg(F.count("*").cast("bigint").alias("n_occ"),
                 F.max("plen").alias("plen"),
                 F.max("score_ppm").alias("score_ppm"))
            .where(F.col("n_occ") >= min_occ))


def textrank_keywords(docs: DataFrame, text_col: str, id_col: str,
                      n_stop: int = 20, window: int = 2,
                      iters: int = 3) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004), integer
    exact: build the word co-occurrence graph (words within `window`
    positions of each other in the ORIGINAL token sequence, both
    endpoints non-stopword; edge weight = corpus-wide co-occurrence
    count) and rank words by weighted PageRank over it.  The
    iterative, graph-global member of the term-mining family:
    rake_keyphrases (q196) scores phrases by local deg/freq with no
    iteration, term_salience (q152) is per-doc tf-idf, TextRank
    rewards words that keep company with other well-connected words
    — a different top set whenever high-df hubs chain together.

    The stopword set is DERIVED exactly as in rake_keyphrases: the
    n_stop highest-document-frequency tokens, ties by word asc,
    collected once (dimension-sized) and inlined as a literal.
    Co-occurrence pairs come from per-doc lead() windows (one sort
    per doc partition, q196's window discipline — no token
    self-join), are canonicalized (least, greatest) so the graph is
    undirected, then mirrored into directed edges for
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



def word_bigrams(toks):
    """Null-padded zip_with word-bigram array over an already-
    FILTERED token array column — the shared widening idiom of
    postings_gap_audit and class_tfidf_terms."""
    n = F.size(toks)
    lead = F.greatest(n - 1, F.lit(1))
    return F.filter(
        F.zip_with(F.slice(toks, 1, lead), F.slice(toks, 2, lead),
                   lambda a, b: F.concat(a, F.lit("_"), b)),
        lambda x: x.isNotNull())


def postings_gap_audit(df: DataFrame, text_col: str,
                       id_col: str, bigrams: bool = False) -> DataFrame:
    """Delta-gap compression audit of the inverted index: postings
    lists store doc-id GAPS, not ids, and a gap costs ~bit_length
    bits under any Elias/varint-family code — so sum(bitlen(gap))
    vs 32 bits/posting is the storage ratio an index layout decision
    needs BEFORE building the index (the classic IR result: frequent
    terms have dense lists, tiny gaps, and compress hardest).
    Reported per df-class (bit_length of document frequency, the
    q99/q143 bucketing idiom) so the frequent-term compression
    advantage is visible as a monotone ratio column.

    One distinct (word, doc) aggregate, one per-word lag() window
    (partition = one posting list, the q122 postings discipline),
    one combinable rollup.  First gap = doc_id + 1 (gap from the
    virtual id -1), so every gap >= 1 and bit_length is total.

    Returns (df_bits, n_terms, n_postings, gap_bits, fixed_bits,
    ratio_ppm) — ratio_ppm = gap_bits * 1e6 div fixed_bits."""
    from pyspark.sql import Window
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda s: s != F.lit(""))
    if bigrams:
        # widen the term universe (and the df spectrum) with word
        # bigrams — the q125 feature construction, unhashed
        toks = F.concat(toks, word_bigrams(toks))
    post = (df.select(F.col(id_col).alias("doc"),
                      F.explode(toks).alias("word"))
            .distinct())
    w = Window.partitionBy("word").orderBy("doc")
    gaps = post.withColumn(
        "gap", F.col("doc") - F.coalesce(F.lag("doc").over(w),
                                         F.lit(-1)))
    per_word = (gaps.groupBy("word")
                .agg(F.count("*").alias("df"),
                     F.sum(F.length(F.bin("gap"))).alias("gbits")))
    return (per_word
            .groupBy(F.length(F.bin("df")).cast("int")
                     .alias("df_bits"))
            .agg(F.count("*").cast("bigint").alias("n_terms"),
                 F.sum("df").cast("bigint").alias("n_postings"),
                 F.sum("gbits").cast("bigint").alias("gap_bits"))
            .withColumn("fixed_bits",
                        (F.col("n_postings") * 32).cast("bigint"))
            .withColumn("ratio_ppm",
                        F.expr("(gap_bits * 1000000) div fixed_bits")
                        .cast("bigint")))


def class_tfidf_terms(df: DataFrame, text_col: str, class_col: str,
                      k: int = 5, bigrams: bool = True) -> DataFrame:
    """Class-based TF-IDF distinctive terms (the c-TF-IDF of
    BERTopic, Grootendorst 2022): treat each CLASS (source,
    community, cluster) as one meta-document, score term w in class
    c by ctf(w,c) * icf(w) with icf = bit_length(C div cf(w)) (the
    q38 integer-idf family; cf = classes containing w), and keep the
    top-k per class — "name this cluster" for communities, "what is
    this source about" for provenance audits.  Per-DOC tf-idf (q38)
    ranks terms within one document; this ranks what separates one
    CLASS from the rest — the label-generation step after any
    clustering (LPA/LSH/k-center) produces unlabeled groups.

    Bigram terms are on by default: distinctive phrases usually ARE
    bigrams ("climate summit" vs "climate", and a 31-word template
    vocabulary has every unigram in every class).  Ties break term
    asc; all arithmetic integer.

    Scale shape: one token explode, two combinable aggregates
    ((class, term) counts; term->class df), one top-k window
    partitioned by class (k rows survive per class).  Returns
    (class, rank, term, ctf, cf, score)."""
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda s: s != F.lit(""))
    if bigrams:
        toks = F.concat(toks, word_bigrams(toks))
    tok = df.select(F.col(class_col).alias("cls"),
                    F.explode(toks).alias("term"))
    return (class_tfidf_from_tokens(tok, k=k)
            .withColumnRenamed("cls", class_col))


def class_tfidf_from_tokens(tok: DataFrame, k: int = 5) -> DataFrame:
    """Token-level core of class_tfidf_terms: input is an already-
    built (cls, term) occurrence table — the seam that lets the
    same scoring run on mention-context tokens (kg_community_labels)
    or any custom term universe.  Same contract: top-k per class by
    ctf * bitlen(C div cf), ties term asc."""
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
