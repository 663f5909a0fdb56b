"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship KG extraction: testdata documents mapped into
                 the pages shape + the deterministic pinned-vocabulary
                 Korean corpus -> fused annotate stage -> triples.
queries()     -> one entry per implemented operator (SURVEY.md §2 +
                 the training-data operators); each callable takes
                 (spark, sf_dir) and returns a DataFrame.
oracle_sql()  -> the DuckDB twin of every SQL-expressible query.
                 Numeric outputs are integers (cents / counts / ids)
                 so value hashes match across engines exactly; float
                 scores only ever influence ORDER BY (with total-order
                 tiebreakers), never output values.

KG-pipeline queries over the synthesized pages corpus (kg_*) have no
SQL oracle (tokenization + automaton matching are not SQL-expressible)
and get the driver's rows-only check; their correctness gate is the
pyref-oracle P/R suite in tests/.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_mecab_ner_spark.functions.hashing import (bucket_sql, md5_int,
                                                      md5_int_sql)
from python_mecab_ner_spark.functions import text as TX

N_KG_DOCS = 400  # deterministic corpus size for kg_* queries

# English mini-gazetteer over the documents vocabulary (token-sequence
# mention detection with a SQL-checkable whitespace tokenizer)
MINI_GAZ = ["hash join", "table scan", "window agg", "spark", "query"]

# sign-LSH target band-bucket population: bits per band =
# ceil(log2(n_vectors / LSH_TARGET_BUCKET)), so bucket size (and with
# it per-bucket self-join work) stays ~constant as the corpus grows
LSH_TARGET_BUCKET = 64
LSH_BANDS = 8

# shingle document-frequency cap for the exact-jaccard path (q16):
# bounds self-join fan-out per shingle key at MAX_SH_DF^2 at ANY corpus
# size; chosen so sf0.01 results are identical to uncapped (verified)
# while sf0.1's stopword trigrams get pruned
MAX_SH_DF = 256


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # sandbox-scale plan hygiene: the sf* parquet files are a few MB,
    # so the default 128 MB split puts the whole scan (and, after AQE
    # coalescing, every downstream stage) on ONE task.  Explodes
    # multiply rows ~50x downstream of the scan, so split small files
    # finer and keep post-shuffle partitions small enough to stay
    # parallel.  At production scale files are row-grouped >=128 MB
    # and these two knobs would be left at their defaults.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 << 20))
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                   str(4 << 20))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _loadp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_load + explicit repartition: every sf* table is ONE parquet
    file with ONE row group (unsplittable), so any scan is a single
    task no matter the split size.  For explode-heavy operators
    (shingles multiply rows ~50x) the pre-explode repartition is a
    few-MB round-robin shuffle that buys full downstream parallelism —
    the standard move for unsplittable/small sources.  Pure relational
    queries keep the plain scan (volumes are small, plans stay
    pushdown-clean)."""
    return _load(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism)


def _cents(col) -> F.Column:
    return F.round(col * 100).cast("bigint")


_CENTS_SQL = "CAST(round({x} * 100) AS BIGINT)"

# minute index without timezone ambiguity (doy/hour/minute fields)
_MINUTE = lambda c: ((F.dayofyear(c) * 24 + F.hour(c)) * 60 + F.minute(c)).cast("bigint")
_MINUTE_SQL = ("CAST((date_part('doy', {c}) * 24 + date_part('hour', {c})) * 60 "
               "+ date_part('minute', {c}) AS BIGINT)")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages -> fused annotate -> (url, subj, pred, obj) triples.

    Reads /root/testdata/sf0.001 documents (mapped into the mandated
    pages shape) and unions the deterministic pinned-vocabulary corpus,
    so the run exercises both the testdata scan and the KG path.
    """
    from python_mecab_ner_spark.plans.pipeline import extract_graph
    from python_mecab_ner_spark.sources.corpus import pages_dataframe

    docs = _load(spark, "/root/testdata/sf0.001", "documents")
    doc_pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.col("text"), F.col("lang"))
    pages = pages_dataframe(spark, 500, seed=42).select(
        "url", "warc_ts", "text", "lang").unionByName(doc_pages)
    g = extract_graph(spark, pages, canonicalize=False)
    return g["triples"].select("url", "subj", "pred", "obj", "conf")


# --------------------------------------------------------------------------
# relational / operator queries (SQL-oracled)
# --------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """Partial-aggregable groupBy (TPC-H Q1 shape): map-side combine +
    one shuffle on a low-cardinality key."""
    li = _load(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_c"),
                 F.sum(_cents(F.col("l_extendedprice"))).alias("sum_price_c"),
                 F.count("*").alias("n_rows")))


def q02_region_revenue(spark, sf_dir):
    """Star join: fact orders x customer, dims nation/region broadcast."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.sum(_cents(F.col("o_totalprice"))).alias("rev_c"),
                 F.count("*").alias("n_orders")))


def q03_topk_per_group(spark, sf_dir):
    """Top-3 orders per priority: rank-1-per-group generalization
    (reference L12 argmax loops as a window)."""
    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("rn", F.row_number().over(w).cast("int"))
            .filter("rn <= 3")
            .select("o_orderpriority", "o_orderkey", "rn"))


def q04_event_islands(spark, sf_dir):
    """Gaps-and-islands (reference M9 run merge as SQL): maximal runs of
    consecutive active minutes per user."""
    from python_mecab_ner_spark.operators.spans import gaps_and_islands
    ev = _load(spark, sf_dir, "events")
    m = ev.select("user_id", _MINUTE(F.col("ts")).alias("minute")).distinct()
    runs = gaps_and_islands(m, "user_id", "minute")
    return (runs.groupBy("user_id")
            .agg(F.count("*").alias("n_runs"),
                 F.max("run_len").alias("max_len")))


def q05_nearest_click(spark, sf_dir):
    """Nearest join (reference L13 entity-intent pairing): for each
    error event, the closest click of the same user by time."""
    from python_mecab_ner_spark.operators.spans import nearest_join
    ev = _load(spark, sf_dir, "events")
    err = (ev.filter("event_type = 'error'")
           .select("user_id", F.col("event_id"),
                   _MINUTE(F.col("ts")).alias("pos")))
    clk = (ev.filter("event_type = 'click'")
           .select("user_id", F.col("event_id").alias("click_id"),
                   _MINUTE(F.col("ts")).alias("cpos")))
    out = nearest_join(err, clk, on=["user_id"], left_pos="pos",
                       right_pos="cpos", left_id="event_id",
                       tiebreakers=["click_id"])
    return out.select("event_id", F.col("click_id_r").alias("click_id"))


def q06_semi_join(spark, sf_dir):
    """Evidence semi-join (reference L9 strict validation): customers
    with at least one order above 400."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders").filter("o_totalprice > 400")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi") \
        .select("c_custkey", "c_name")


def q07_anti_join(spark, sf_dir):
    """Resume-style anti-join (plans.lineage): customers with no
    urgent order (a non-empty complement at every sf)."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders").filter("o_orderpriority = '1-URGENT'")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti") \
        .select("c_custkey", "c_name")


def q08_word_freq(spark, sf_dir):
    """Stats accumulation (reference L5 counters as groupBy): corpus
    word frequencies above a fixed support."""
    d = _loadp(spark, sf_dir, "documents")
    w = (d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
         .where("word <> ''")
         .groupBy("word").agg(F.count("*").alias("cnt"))
         .filter("cnt >= 20"))
    return w


def q09_neighbor_window(spark, sf_dir):
    """±3-row neighbor window (reference L5 NEIGHBOR_DISTANCE loops as
    Window.rowsBetween): windowed value sum per event."""
    ev = _load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(_MINUTE(F.col("ts")).asc(), F.col("event_id").asc())
         .rowsBetween(-3, 3))
    return ev.select("event_id",
                     F.sum(_cents(F.col("value"))).over(w).alias("w_sum_c"))


# ---- training-data / text operators --------------------------------------

def q11_token_count(spark, sf_dir):
    d = _loadp(spark, sf_dir, "documents")
    return d.select("doc_id", TX.token_count(F.col("text")).alias("n_tokens"))


def q12_lang_id(spark, sf_dir):
    d = _loadp(spark, sf_dir, "documents")
    return d.select("doc_id", TX.lang_id(F.col("text")).alias("lang_pred"))


def q13_quality_score(spark, sf_dir):
    d = _loadp(spark, sf_dir, "documents")
    return d.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


def q14_fingerprint(spark, sf_dir):
    d = _loadp(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


def q16_jaccard_pairs(spark, sf_dir):
    """Exact capped-Jaccard pairs: shingles appearing in > MAX_SH_DF
    documents are dropped BEFORE the self-join, bounding per-key join
    fan-out at MAX_SH_DF^2 regardless of corpus size (the 100 TB guard
    against stopword-trigram hot keys)."""
    from python_mecab_ner_spark.operators.dedup import jaccard_pairs
    d = _loadp(spark, sf_dir, "documents")
    return jaccard_pairs(d, "text", "doc_id", k=3, min_shared=2,
                         max_df=MAX_SH_DF)


def q17_lsh_pairs(spark, sf_dir):
    from python_mecab_ner_spark.operators.dedup import lsh_candidate_pairs
    d = _loadp(spark, sf_dir, "documents")
    return lsh_candidate_pairs(d, "text", "doc_id", k=3, n_hashes=8, bands=4)


def q18_simhash(spark, sf_dir):
    from python_mecab_ner_spark.operators.dedup import simhash64
    d = _loadp(spark, sf_dir, "documents")
    return simhash64(d, "text", "doc_id", n_bits=16)


def q19_mention_firstpos(spark, sf_dir):
    """Token-sequence mention detection with a whitespace tokenizer
    (SQL-checkable analogue of the gazetteer matcher M1): first char
    position of each mini-gazetteer surface per document."""
    d = _load(spark, sf_dir, "documents")
    gaz = spark.createDataFrame([(s,) for s in MINI_GAZ], "surface string")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    needle = F.concat(F.lit(" "), F.col("surface"), F.lit(" "))
    return (d.crossJoin(F.broadcast(gaz))
            .select("doc_id", "surface",
                    F.instr(padded, needle).cast("bigint").alias("first_pos"))
            .filter("first_pos > 0"))


def q20_ann_bruteforce(spark, sf_dir):
    """Exact cosine top-10 to the vec_id=0 embedding (brute-force ANN
    baseline); output is (vec_id, rank) so hashes are float-free."""
    from python_mecab_ner_spark.operators.ann import brute_force_topk
    e = _load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            e.filter("vec_id = 0").select("embedding").first()[0]]
    out = brute_force_topk(e, qvec, k=10)
    return out.select("vec_id", F.col("rank").cast("int").alias("rank"))


def q21_ann_lsh(spark, sf_dir):
    """Banded sign-LSH ANN (the scale path): top-10 among vectors
    colliding with the query in ANY of LSH_BANDS bands; bits per band are
    CORPUS-SCALED (ceil(log2(n / target_bucket))) so candidate count
    stays ~constant per probe at any corpus size."""
    from python_mecab_ner_spark.operators.ann import bucketed_topk
    e = _load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            e.filter("vec_id = 0").select("embedding").first()[0]]
    return bucketed_topk(e, qvec, k=10, n_bands=LSH_BANDS,
                         target_bucket_size=LSH_TARGET_BUCKET)


def q22_salt_distribution(spark, sf_dir):
    """Computed skew handling (operators.graph): detect head keys by
    frequency, salt them over 8 partitions, report the spread."""
    ev = _load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
    mean = counts.agg(F.avg("cnt").alias("mean_cnt"))
    heads = (counts.crossJoin(F.broadcast(mean))
             .filter(F.col("cnt") >= F.col("mean_cnt") * 1.5)
             .select("event_type"))
    salted = (ev.join(F.broadcast(heads.withColumn("_h", F.lit(True))),
                      "event_type", "left")
              .withColumn("salt",
                          F.when(F.col("_h"),
                                 F.pmod(md5_int(F.col("event_id").cast("string")),
                                        F.lit(8)))
                          .otherwise(F.lit(0)).cast("int")))
    return (salted.groupBy("event_type")
            .agg(F.countDistinct("salt").alias("n_salts"),
                 F.count("*").alias("total")))


def q30_rollup(spark, sf_dir):
    """Hierarchical rollup aggregation (priority -> status) with
    grouping id — the grouping-sets capability the reference lacks
    entirely (SURVEY.md §2.6)."""
    o = _load(spark, sf_dir, "orders")
    return (o.rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count("*").alias("n_orders"),
                 F.sum(_cents(F.col("o_totalprice"))).alias("rev_c"),
                 F.grouping_id().cast("int").alias("gid")))


def q31_asof_join(spark, sf_dir):
    """Directional as-of join (the time-series complement of q05's
    symmetric nearest join): for each error event, the most recent
    click of the same user AT OR BEFORE it."""
    ev = _load(spark, sf_dir, "events")
    err = (ev.filter("event_type = 'error'")
           .select("user_id", "event_id", _MINUTE(F.col("ts")).alias("pos")))
    clk = (ev.filter("event_type = 'click'")
           .select("user_id", F.col("event_id").alias("click_id"),
                   _MINUTE(F.col("ts")).alias("cpos")))
    j = err.join(clk, "user_id").where(F.col("cpos") <= F.col("pos"))
    w = Window.partitionBy("event_id").orderBy(
        F.col("cpos").desc(), F.col("click_id").desc())
    return (j.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1").select("event_id", "click_id"))


def q32_trailing_window(spark, sf_dir):
    """RANGE-frame window (value-based, vs q09's ROWS frame): events
    per user in the trailing 30 minutes including the current one."""
    ev = _load(spark, sf_dir, "events")
    m = ev.select("user_id", "event_id", _MINUTE(F.col("ts")).alias("m"))
    w = (Window.partitionBy("user_id").orderBy(F.col("m").asc())
         .rangeBetween(-30, 0))
    return m.select("event_id",
                    F.count("*").over(w).alias("n_trailing"))


def q35_regex_entities(spark, sf_dir):
    """L4 regex NE extraction (reference set_cat_dict pattern
    <form:label>, mecab_category_storage.py:368-408): tag the label
    words inline, extract every (form, label) pair with
    regexp_extract_all (JVM-side), and fingerprint the re.sub-stripped
    plain text (the reference's other output)."""
    from python_mecab_ner_spark.functions.text import (regex_entities,
                                                       strip_ne_tags)
    d = _loadp(spark, sf_dir, "documents")
    tagged = d.select(
        "doc_id",
        F.regexp_replace(F.lower("text"), r"\b(spark|query)\b",
                         "<$1:TECH>").alias("ttext"))
    return (tagged
            .select("doc_id", md5_int(strip_ne_tags(F.col("ttext"))).alias("plain_fp"),
                    F.posexplode(regex_entities(F.col("ttext"))).alias("pos", "e"))
            .select("doc_id", F.col("pos").cast("int").alias("pos"),
                    F.col("e.form").alias("form"),
                    F.col("e.label").alias("label"), "plain_fp"))


# DuckDB twin of strip_ne_tags + fingerprint (built outside the oracle
# f-string: f-string expressions cannot contain backslashes)
_PLAIN_FP_SQL = md5_int_sql(
    "regexp_replace(ttext, '<([^:]+):([\\d\\w]+)>', '\\1', 'g')")

STAT_LABELS = ["spark", "query"]   # single-token labels for q33/q34
STAT_TARGET = "join"               # the "homonym" word q34 disambiguates


def _doc_context(spark, sf_dir):
    """documents -> (url, idx, word, pos) whitespace-token context
    (pos is a constant tag: the English corpus has no POS).

    Persisted: the stats-family queries (q33/q34/q36/q38/q43) each
    reference this identical subtree from 2-3 join branches, and the
    driver runs them back-to-back in one session — the CacheManager
    dedups every reference (same plan -> same entry) so the explode
    runs once per (session, sf_dir) instead of once per branch.  The
    token table is corpus-bounded (it is the same working set
    extract_graph persists as g["context"])."""
    from pyspark import StorageLevel
    d = _loadp(spark, sf_dir, "documents")
    return (d.select(F.col("doc_id").alias("url"),
                     F.posexplode(F.split(F.lower(F.trim("text")), r"\s+"))
                     .alias("idx", "word"))
            .where("word <> ''")
            .withColumn("pos", F.lit("W"))
            .persist(StorageLevel.MEMORY_AND_DISK))


def q33_neighbor_stats(spark, sf_dir):
    """The L5 stats aggregation (operators.linking.build_neighbor_stats
    == reference set_mecab_token_storage neighbor_word counters) run on
    the documents table: +-3-token neighbor counts around each
    occurrence of the label words."""
    from python_mecab_ner_spark.operators.linking import build_neighbor_stats
    ctx = _doc_context(spark, sf_dir)
    mentions = (ctx.where(F.col("word").isin(STAT_LABELS))
                .select("url", F.col("idx").alias("start"),
                        (F.col("idx") + 1).alias("end"),
                        F.col("word").alias("large")))
    return (build_neighbor_stats(ctx, mentions, window=3)
            .select("label", "word", F.col("cnt").cast("bigint").alias("cnt")))


def q34_context_argmax(spark, sf_dir):
    """The homonym-disambiguation argmax (operators.linking
    .add_neighbor_scores == reference delete_duplicate_value): for
    every occurrence of the target word, pick the label whose learned
    neighbor counters best explain the +-3 context (capped-product
    score = exact-integer twin of the reference's log-smoothed sum;
    ties broken label-asc)."""
    from pyspark.sql import Window as W

    from python_mecab_ner_spark.operators.linking import (
        add_neighbor_scores, build_neighbor_stats)
    ctx = _doc_context(spark, sf_dir)
    mentions = (ctx.where(F.col("word").isin(STAT_LABELS))
                .select("url", F.col("idx").alias("start"),
                        (F.col("idx") + 1).alias("end"),
                        F.col("word").alias("large")))
    stats = build_neighbor_stats(ctx, mentions, window=3)
    targets = (ctx.where(F.col("word") == STAT_TARGET)
               .select("url", F.col("idx").alias("start"),
                       (F.col("idx") + 1).alias("end")))
    labels = spark.createDataFrame([(s,) for s in STAT_LABELS],
                                   "n_label string")
    cand = targets.crossJoin(F.broadcast(labels))
    scored = add_neighbor_scores(cand, ctx, stats, window=3)
    w = W.partitionBy("url", "start").orderBy(
        F.col("n_score").desc(), F.col("n_label").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .select(F.col("url").alias("doc_id"),
                    F.col("start").cast("bigint").alias("pos"),
                    F.col("n_label").alias("best_label")))


def q38_tfidf_topk(spark, sf_dir):
    """L16 TF-IDF (reference main.py:101-117 sklearn experiment) with
    an EXACT integer formulation: idf = 1 + floor(log2(N / df))
    computed as bit-length arithmetic (no float log anywhere, so the
    cross-engine hash matches bit-for-bit); top-3 terms per document
    by tf * idf, ties term-asc."""
    from pyspark.sql import Window as W
    ctx = _doc_context(spark, sf_dir)
    n_docs = F.lit(spark.read.parquet(f"{sf_dir}/documents.parquet").count())
    tf = (ctx.groupBy("url", "word").agg(F.count("*").alias("tf")))
    df_ = (ctx.select("url", "word").distinct()
           .groupBy("word").agg(F.count("*").alias("df")))
    # idf = 1 + floor(log2(N/df)) == length(bin(floor(N/df))) for
    # N/df >= 1 (exact integer arithmetic; explicit floor because
    # double->bigint CAST truncates in Spark but rounds in DuckDB)
    idf = F.length(F.bin(F.floor(n_docs / F.col("df")).cast("bigint"))) \
        .cast("bigint")
    scored = (tf.join(F.broadcast(df_), "word")
              .withColumn("tfidf", (F.col("tf") * idf).cast("bigint")))
    w = W.partitionBy("url").orderBy(F.col("tfidf").desc(),
                                     F.col("word").asc())
    return (scored.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter("rnk <= 3")
            .select(F.col("url").alias("doc_id"), "word", "tfidf", "rnk"))


def q39_clean_corpus(spark, sf_dir):
    """Composed C4-style cleaning pipeline from the engine's own
    pieces: language gate (lang_id) + quality gate (quality_score) +
    exact-dedup rank-1 per fingerprint — the keep-list a pretraining
    corpus build emits."""
    from pyspark.sql import Window as W

    from python_mecab_ner_spark.functions import text as TX2
    d = _loadp(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        TX2.lang_id(F.col("text")).alias("lang_pred"),
        TX2.quality_score(F.col("text")).alias("quality"),
        TX2.fingerprint(F.col("text")).alias("fp"))
    kept = scored.where((F.col("lang_pred") == "en")
                        & (F.col("quality") >= 60))
    w = W.partitionBy("fp").orderBy(F.col("doc_id").asc())
    return (kept.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .select("doc_id", "quality", "fp"))


def q40_pagerank(spark, sf_dir):
    """Integer fixed-point PageRank (operators.graph.pagerank_int) on
    the part<->supplier bipartite graph from lineitem (node ids
    disjoint via even/odd encoding); exact cross-engine because every
    step is 64-bit integer arithmetic."""
    from python_mecab_ner_spark.operators.graph import pagerank_int
    li = _load(spark, sf_dir, "lineitem")
    pairs = li.select((F.col("l_partkey") * 2).alias("p"),
                      (F.col("l_suppkey") * 2 + 1).alias("s")).distinct()
    edges = (pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("p").alias("dst"))))
    return pagerank_int(edges, iters=3).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("pr").alias("pr"))


KLUE_FIXTURE = str(Path(__file__).resolve().parent
                   / "tests" / "data" / "klue_fixture.json")


def _doc_mentions(spark, sf_dir):
    """MINI_GAZ phrase mentions over the documents whitespace tokens:
    (url, start, end, label) token-index spans (label = surface with
    '_' for spaces)."""
    toks = _doc_context(spark, sf_dir).drop("pos")
    singles = [s for s in MINI_GAZ if " " not in s]
    m = (toks.where(F.col("word").isin(singles))
         .select("url", F.col("idx").alias("start"),
                 (F.col("idx") + 1).alias("end"),
                 F.col("word").alias("label")))
    for surface in MINI_GAZ:
        parts = surface.split()
        if len(parts) != 2:
            continue
        t1 = toks.alias("t1")
        t2 = toks.alias("t2")
        m2 = (t1.where(F.col("t1.word") == parts[0])
              .join(t2, (F.col("t1.url") == F.col("t2.url"))
                    & (F.col("t2.idx") == F.col("t1.idx") + 1)
                    & (F.col("t2.word") == parts[1]))
              .select(F.col("t1.url").alias("url"),
                      F.col("t1.idx").alias("start"),
                      (F.col("t1.idx") + 2).alias("end"),
                      F.lit(surface.replace(" ", "_")).alias("label")))
        m = m.unionByName(m2)
    return m


def q36_bio_export(spark, sf_dir):
    """BIO label writeback + training-data export (reference L3/L15 as
    operators.bio.bio_export): every documents token stamped
    'O'/'B-x'/'I-x' from the MINI_GAZ phrase mentions,
    first-writer-wins on overlaps."""
    from python_mecab_ner_spark.operators.bio import bio_export
    toks = _doc_context(spark, sf_dir).drop("pos")
    out = bio_export(toks, _doc_mentions(spark, sf_dir))
    return out.select(F.col("url").alias("doc_id"),
                      F.col("idx").cast("int").alias("idx"), "word", "bio")


def q37_klue_ner(spark, sf_dir):
    """KLUE-NER JSON source (reference S7, main.py:55-98): nested
    document[].sentence[].NE[] exploded to one row per annotation via
    spark.read.json — the real-training-corpus ingest path."""
    from python_mecab_ner_spark.sources.klue import klue_ner
    return klue_ner(spark, KLUE_FIXTURE)


def q43_dup_argmax(spark, sf_dir):
    """The reference's SECOND homonym-disambiguation policy
    (delete_duplicate: +-5 raw core+neighbor SUM, anchor excluded,
    mecab_category_storage.py:619-656) as operators.linking
    .add_duplicate_scores over the documents table: additive argmax
    per occurrence of the target word.  The POS gate is disabled here
    (the whitespace corpus carries a constant tag); the gate itself is
    pinned by the kernel goldens in test_linking_stats.py."""
    from pyspark.sql import Window as W

    from python_mecab_ner_spark.operators.linking import (
        add_duplicate_scores, build_stats)
    ctx = _doc_context(spark, sf_dir)
    mentions = (ctx.where(F.col("word").isin(STAT_LABELS))
                .select("url", F.col("idx").alias("start"),
                        (F.col("idx") + 1).alias("end"),
                        F.col("word").alias("large")))
    # ONE fused mention-context join builds both counters (identical
    # values to the separate build_neighbor_stats/build_core_stats,
    # half the corpus-join cost — same plan shape extract_graph uses)
    nstats, cstats = build_stats(ctx, mentions, window=3)
    targets = (ctx.where(F.col("word") == STAT_TARGET)
               .select("url", F.col("idx").alias("start"),
                       (F.col("idx") + 1).alias("end")))
    labels = spark.createDataFrame([(s,) for s in STAT_LABELS],
                                   "n_label string")
    cand = targets.crossJoin(F.broadcast(labels))
    scored = add_duplicate_scores(cand, ctx, nstats, cstats,
                                  pos_filter=None)
    w = W.partitionBy("url", "start").orderBy(
        F.col("d_score").desc(), F.col("n_label").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .select(F.col("url").alias("doc_id"),
                    F.col("start").cast("bigint").alias("pos"),
                    F.col("n_label").alias("best_label"),
                    F.col("d_score").cast("bigint").alias("d_score")))


def q44_evidence_scores(spark, sf_dir):
    """The FUSED evidence scorer (operators.linking
    .add_evidence_scores): BOTH homonym policies' scores — the +-3
    capped-product neighbor score (delete_duplicate_value,
    mecab_category_storage.py:39-63) and the +-5 additive
    core+neighbor sum (delete_duplicate, :619-656) — for every
    (target occurrence, label) pair, from ONE context join.  Pins the
    fusion's exactness in the driver's oracle, not just pytest: the
    SQL twin computes each score via its own window CTE."""
    from python_mecab_ner_spark.operators.linking import (
        add_evidence_scores, build_stats)
    ctx = _doc_context(spark, sf_dir)
    mentions = (ctx.where(F.col("word").isin(STAT_LABELS))
                .select("url", F.col("idx").alias("start"),
                        (F.col("idx") + 1).alias("end"),
                        F.col("word").alias("large")))
    nstats, cstats = build_stats(ctx, mentions, window=3)
    targets = (ctx.where(F.col("word") == STAT_TARGET)
               .select("url", F.col("idx").alias("start"),
                       (F.col("idx") + 1).alias("end")))
    labels = spark.createDataFrame([(s,) for s in STAT_LABELS],
                                   "n_label string")
    cand = targets.crossJoin(F.broadcast(labels))
    out = add_evidence_scores(cand, ctx, nstats, cstats,
                              pos_filter=None)
    return out.select(F.col("url").alias("doc_id"),
                      F.col("start").cast("bigint").alias("pos"),
                      F.col("n_label").alias("label"),
                      F.col("n_score").cast("bigint").alias("n_score"),
                      F.col("d_score").cast("bigint").alias("d_score"))


def q45_repetition_ppm(spark, sf_dir):
    """Within-document repetition quality rule (Gopher duplicate
    2-gram fraction): integer ppm per document, pure per-row array
    expressions — the corpus-cleaning gate that catches templated/
    boilerplate pages exact dedup misses."""
    d = _loadp(spark, sf_dir, "documents")
    return d.select("doc_id",
                    TX.duplicate_ngram_ppm(F.col("text"), n=2)
                    .alias("rep_ppm"))


def q53_surprisal(spark, sf_dir):
    """Unigram-LM rarity quality score (operators.colloc
    .doc_surprisal): integer bit-length idf summed per doc, mean in
    milli-bits — the perplexity-filter stand-in with an exact oracle."""
    from python_mecab_ner_spark.operators.colloc import doc_surprisal
    ctx = _doc_context(spark, sf_dir)
    return doc_surprisal(ctx).select(F.col("url").alias("doc_id"),
                                     "n_toks", "sum_idf", "rarity_milli")


# DuckDB twin of _pii_text() below — identical injected bytes
_PII_TEXT_SQL = (
    "(text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' tel 010-' ||"
    " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-5678'"
    " ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' id 900101-1234567'"
    " ELSE '' END)")


def _pii_text():
    """Deterministic synthetic PII appended per doc (the testdata
    corpus is PII-free by construction): every doc an email, every 3rd
    a phone, every 5th a resident-ID — same expression in the oracle."""
    email = F.concat(F.lit(" contact: user"),
                     F.col("doc_id").cast("string"), F.lit("@example.com"))
    phone = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(F.lit(" tel 010-"),
                 F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"),
                        4, "0"),
                 F.lit("-5678"))).otherwise(F.lit(""))
    rrn = F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0,
                 F.lit(" id 900101-1234567")).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone, rrn)


def q47_pii_redact(spark, sf_dir):
    """PII scrubbing gate (functions.text.pii_redact / pii_counts):
    resident-ID -> phone -> email redaction as a sequential JVM
    regexp_replace chain, per-type hit counts, and the md5 fingerprint
    of the redacted text (pins the replacement bytes, not just the
    counts).  Per-row codegen map — zero shuffle at any scale."""
    from python_mecab_ner_spark.functions.hashing import md5_int
    d = _load(spark, sf_dir, "documents")
    withpii = d.select("doc_id", _pii_text().alias("text"))
    return withpii.select(
        "doc_id", *TX.pii_counts(F.col("text")),
        md5_int(TX.pii_redact(F.col("text"))).alias("red_fp"))


def q48_line_dedup(spark, sf_dir):
    """Corpus-level frequent-line removal (operators.dedup
    .frequent_line_dedup, the CCNet boilerplate rule): line df via one
    partial-distinct aggregate, frequent survivors broadcast back,
    per-doc kept/dropped counts.  The testdata corpus has no newlines,
    so the pluggable splitter runs in 2-token-chunk mode (production
    uses the default '\\n' split)."""
    from python_mecab_ner_spark.operators.dedup import frequent_line_dedup
    d = _loadp(spark, sf_dir, "documents")
    return (frequent_line_dedup(d, "text", "doc_id", min_df=25, chunk=2)
            .select(F.col("doc_id"), "n_lines", "n_dropped"))


def q49_khop(spark, sf_dir):
    """2-hop neighborhood size per node (operators.graph.khop_counts)
    over the q40 part<->supplier bipartite graph: the KG expansion
    primitive ("entities within two relations").  Counting fast path —
    raw hop expansions into ONE countDistinct aggregate, never
    materializing the reach pair set (540 s -> 7.8 s at sf0.1 vs the
    khop_neighbors pair-set path, which remains for callers that join
    the pairs downstream)."""
    from python_mecab_ner_spark.operators.graph import khop_counts
    edges = _ps_edges(spark, sf_dir)
    out = khop_counts(edges, k=2)
    res = out.select(F.col("node").cast("bigint").alias("node"),
                     "n_khop")
    res.unpersist_input = out.unpersist_input
    return res


def q50_bigram_pmi(spark, sf_dir):
    """Collocation mining (operators.colloc.bigram_pmi): adjacent-pair
    PMI in integer parts-per-million over the documents token stream —
    the new-vocabulary / gazetteer-candidate discovery statistic.
    Exact 64-bit integer arithmetic end-to-end (the integer ratio
    preserves log-PMI order), so the oracle hash-matches."""
    from python_mecab_ner_spark.operators.colloc import bigram_pmi
    ctx = _doc_context(spark, sf_dir)
    return bigram_pmi(ctx, min_count=5).select(
        "w1", "w2", "c_xy", "pmi_ppm")


def q80_kn_continuation(spark, sf_dir):
    """Kneser-Ney continuation counts (operators.colloc
    .kn_continuation_counts): distinct-predecessor / distinct-successor
    counts per word over the documents token stream — the lower-order
    distribution an n-gram LM trains from, with the "Francisco
    problem" auditable (high n_uni, cont_left = 1).  Pure counting,
    min_unigram=5 to bound output."""
    from python_mecab_ner_spark.operators.colloc import \
        kn_continuation_counts
    ctx = _doc_context(spark, sf_dir)
    return kn_continuation_counts(ctx, min_unigram=5).select(
        "word", "n_uni", "cont_left", "cont_right")


def q83_fuzzy_alias(spark, sf_dir):
    """Blocked edit-distance alias pairing (operators.canonicalize
    .fuzzy_alias_pairs): lev<=1 customer-name pairs generated ONLY
    inside 16-char-prefix blocks — the typo/variant half of entity
    canonicalization that shingle-Jaccard misses, JVM levenshtein vs
    DuckDB's built-in."""
    from python_mecab_ner_spark.operators.canonicalize import \
        fuzzy_alias_pairs
    c = _load(spark, sf_dir, "customer")
    names = (c.where(F.col("c_custkey") <= 500)
             .select(F.lower("c_name").alias("name")))
    return fuzzy_alias_pairs(names, "name", block_chars=16, max_dist=1)


def q84_importance_weights(spark, sf_dir):
    """DSIR-style importance scores (operators.sample
    .importance_weights): hashed-unigram target-vs-raw log2-ratio
    weights (bit-length form, add-1 smoothed), summed per document —
    the data-selection score for upsampling docs that look like a
    target domain (here lang='en'), integer-exact end to end."""
    from python_mecab_ner_spark.operators.sample import importance_weights
    d = _loadp(spark, sf_dir, "documents")
    d = d.withColumn("is_en", F.col("lang") == "en")
    return (importance_weights(d, "text", "doc_id", "is_en",
                               n_buckets=64)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "n_toks", "score"))


def q81_crawl_budget(spark, sf_dir):
    """Largest-remainder fetch-slot apportionment (operators.crawl
    .crawl_budget): 10,000 crawl slots across supplier-hosts weighted
    by lineitem count — Hamilton's method, all integer, with the exact
    invariant sum(slots) == budget that float-proportional rounding
    can't give."""
    from python_mecab_ner_spark.operators.crawl import crawl_budget
    li = _load(spark, sf_dir, "lineitem")
    counts = (li.groupBy(F.col("l_suppkey").alias("host"))
              .agg(F.count("*").alias("score")))
    return crawl_budget(counts, budget=10_000).select(
        F.col("host").cast("bigint").alias("host"),
        "score", "base", "slots")


# per-language sampling numerators over denominator 16 (the corpus
# mixture-reweighting config: downsample dominant en, keep all fr)
SAMPLE_RATES = {"en": 2, "fr": 16, "es": 8, "de": 4, "zh": 1}
SAMPLE_DENOM = 16

from python_mecab_ner_spark.operators.sample import (  # noqa: E402
    hash_stratified_sample_sql)

SAMPLE_SQL_WHERE = hash_stratified_sample_sql(
    "doc_id", "lang", SAMPLE_RATES, denom=SAMPLE_DENOM)


def q54_window_dedup(spark, sf_dir):
    """Cross-document duplicated-substring coverage (operators.dedup
    .window_dup_stats, the Lee et al. 2022 exact-substring-dedup
    statistic): per doc, distinct 5-token windows, windows recurring
    in >= 2 docs, and the integer duplicated fraction — the signal
    that catches syndicated/boilerplate text document-level dedup
    misses."""
    from python_mecab_ner_spark.operators.dedup import window_dup_stats
    d = _loadp(spark, sf_dir, "documents")
    return (window_dup_stats(d, "text", "doc_id", w=5, min_df=2)
            .select("doc_id", "n_windows", "n_dup", "dup_ppm"))


def q55_stratified_sample(spark, sf_dir):
    """Deterministic hash-stratified sampling (operators.sample
    .hash_stratified_sample): per-language mixture reweighting keyed
    on a portable content hash — reproducible across runs, engines,
    and cluster sizes.  Output pins exact membership (sum of kept
    ids), not just counts."""
    from python_mecab_ner_spark.operators.sample import hash_stratified_sample
    d = _load(spark, sf_dir, "documents")
    kept = hash_stratified_sample(d, "doc_id", "lang",
                                  SAMPLE_RATES, denom=SAMPLE_DENOM)
    return (kept.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_kept"),
                 F.sum("doc_id").cast("bigint").alias("sum_ids")))


def q56_quality_gate(spark, sf_dir):
    """Exact per-language top-25% quality gate (operators.sample
    .quality_percentile_gate): integer rank arithmetic — never a
    float percentile compare — so the kept set is bit-identical
    across engines.  The approx_percentile scale path is pytest-
    checked against this exact gate."""
    from python_mecab_ner_spark.operators.sample import quality_percentile_gate
    d = _load(spark, sf_dir, "documents")
    scored = d.select("doc_id", "lang",
                      TX.quality_score(F.col("text")).alias("q"))
    kept = quality_percentile_gate(scored, "q", "lang", "doc_id",
                                   keep_num=1, keep_den=4)
    return (kept.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_kept"),
                 F.min("q").cast("int").alias("min_q"),
                 F.sum("doc_id").cast("bigint").alias("sum_ids")))


def q58_neighbor_jaccard(spark, sf_dir):
    """Structural node similarity (operators.graph.neighbor_jaccard):
    integer-ppm Jaccard of neighbor sets over the q49 part<->supplier
    bipartite graph, pairs generated only through shared neighbors
    (wedge join, hub centers capped) — the KG link-prediction /
    entity-merge-candidate primitive.  Top-100 by similarity with a
    total-order tiebreak."""
    from python_mecab_ner_spark.operators.graph import neighbor_jaccard
    li = _load(spark, sf_dir, "lineitem")
    pairs = li.select((F.col("l_partkey") * 2).alias("p"),
                      (F.col("l_suppkey") * 2 + 1).alias("s")).distinct()
    edges = (pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("p").alias("dst"))))
    return (neighbor_jaccard(edges, min_common=2, max_center_degree=256)
            .orderBy(F.col("jac_ppm").desc(), F.col("n1").asc(),
                     F.col("n2").asc())
            .limit(100))


def q92_recency_decay(spark, sf_dir):
    """Recency-weighted activity (operators.crawl.decay_activity):
    per-event-type scores under an exact power-of-two half-life decay
    (weight = 2^20 >> (age_days div 7), anchored at the newest event
    day) — the recrawl-priority / trending signal, bit-exact where a
    float exp(-age/tau) sum is not."""
    from python_mecab_ner_spark.operators.crawl import decay_activity
    ev = _load(spark, sf_dir, "events")
    return (decay_activity(ev, "ts", "event_type", half_life_days=7)
            .select(F.col("key").alias("event_type"), "n_events",
                    "decayed"))


def q95_quality_hist_gate(spark, sf_dir):
    """Exact per-source top-quarter selection WITHOUT sorting the
    source (operators.sample.quality_gate_histogram): combinable
    histogram -> boundary bin -> rank window over the boundary bin
    ONLY — result-identical to the full-sort gate (same oracle), but
    the only sort a 100 TB run pays is over ~one bin of one stratum."""
    from python_mecab_ner_spark.operators.sample import \
        quality_gate_histogram
    d = _loadp(spark, sf_dir, "documents")
    kept = quality_gate_histogram(
        d.select("source", "doc_id", "n_chars"),
        score_col="n_chars", strata_col="source", id_col="doc_id",
        keep_num=1, keep_den=4, bin_width=64)
    return kept.select("source", "doc_id", "n_chars")


def q96_cooccurrence(spark, sf_dir):
    """GloVe co-occurrence matrix build (operators.colloc
    .cooccurrence_counts): unordered word pairs within a +-5 window,
    weighted scale div distance with scale=60 (the lcm trick: every
    1/d weight is an exact integer) — the embedding-pretraining input
    statistic, one exploded-offset equi-join + one combinable
    aggregate."""
    from python_mecab_ner_spark.operators.colloc import \
        cooccurrence_counts
    ctx = _doc_context(spark, sf_dir)
    return cooccurrence_counts(ctx, window=5, min_pairs=5).select(
        "w1", "w2", "n_pairs", "w_sum")


def q99_degree_histogram(spark, sf_dir):
    """Log2-bucketed degree distribution of the part<->supplier graph
    — the first web-graph sanity dashboard (power-law check, hub
    audit): bucket = bit_length(degree), ONE dimension-sized
    aggregate over the degree table; min/max per bucket make the
    bucket boundaries auditable."""
    li = _load(spark, sf_dir, "lineitem")
    pairs = li.select((F.col("l_partkey") * 2).alias("p"),
                      (F.col("l_suppkey") * 2 + 1).alias("s")).distinct()
    deg = (pairs.select(F.col("p").alias("node"))
           .unionByName(pairs.select(F.col("s").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    return (deg.groupBy(F.length(F.bin(F.col("deg"))).cast("int")
                        .alias("bucket"))
            .agg(F.count("*").cast("bigint").alias("n_nodes"),
                 F.min("deg").cast("bigint").alias("min_deg"),
                 F.max("deg").cast("bigint").alias("max_deg")))


def q105_source_risk(spark, sf_dir):
    """Per-source governance dashboard: the numbers a dataset release
    / crawl-blocklist decision reads per source — doc count, docs
    carrying any PII (q47's injected-PII corpus, counts per type
    summed), low-quality fraction, and non-English fraction, all as
    integer ppm.  One projection chain (every gate is a per-row JVM
    expression) + ONE combinable aggregate."""
    d = _load(spark, sf_dir, "documents")
    withpii = d.select("source", _pii_text().alias("text"))
    n_id, n_phone, n_email = TX.pii_counts(F.col("text"))
    flags = withpii.select(
        "source",
        ((n_id + n_phone + n_email) > 0).cast("int").alias("_pii"),
        (TX.quality_score(F.col("text")) < 60).cast("int").alias("_lowq"),
        (TX.lang_id(F.col("text")) != "en").cast("int").alias("_nonen"))
    return (flags.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("_pii").cast("bigint").alias("n_pii_docs"),
                 F.floor(F.sum("_pii") * F.lit(1_000_000) / F.count("*"))
                 .cast("bigint").alias("pii_ppm"),
                 F.floor(F.sum("_lowq") * F.lit(1_000_000) / F.count("*"))
                 .cast("bigint").alias("lowq_ppm"),
                 F.floor(F.sum("_nonen") * F.lit(1_000_000)
                         / F.count("*"))
                 .cast("bigint").alias("nonen_ppm")))


def q106_source_overlap(spark, sf_dir):
    """Pairwise vocabulary overlap between sources (exact Jaccard in
    integer ppm) — the dataset-mixing diagnostic behind dedup-across-
    sources and mixture-weight decisions: near-identical vocabularies
    mean the sources are redundant, disjoint ones mean real coverage.

    Scale shape: ONE distinct (source, word) aggregate, then pairs
    are generated per WORD over its source list (sources are a
    config-sized dimension, so per-word fan-out is <= C(n_sources, 2)
    — never a corpus self-join); sizes broadcast back.  All counts
    64-bit integers."""
    d = _loadp(spark, sf_dir, "documents")
    sw = (d.select("source",
                   F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
                   .alias("word"))
          .where("word <> ''")
          .distinct())
    a, b = sw.alias("a"), sw.alias("b")
    inter = (a.join(b, (F.col("a.word") == F.col("b.word"))
                    & (F.col("a.source") < F.col("b.source")))
             .groupBy(F.col("a.source").alias("s1"),
                      F.col("b.source").alias("s2"))
             .agg(F.count("*").alias("inter")))
    sizes = sw.groupBy("source").agg(F.count("*").alias("n_words"))
    z1 = F.broadcast(sizes.select(F.col("source").alias("s1"),
                                  F.col("n_words").alias("n1")))
    z2 = F.broadcast(sizes.select(F.col("source").alias("s2"),
                                  F.col("n_words").alias("n2")))
    return (inter.join(z1, "s1").join(z2, "s2")
            .select("s1", "s2",
                    F.col("inter").cast("bigint").alias("inter"),
                    F.floor(F.col("inter") * F.lit(1_000_000)
                            / (F.col("n1") + F.col("n2")
                               - F.col("inter")))
                    .cast("bigint").alias("jac_ppm")))


def q107_next_word(spark, sf_dir):
    """Next-word top-3 per context word (bigram counts + rank window
    over the w1 partition, count-desc word-asc total order) — the
    autocomplete / bigram-LM-eval table.  The window partitions are
    VOCABULARY-keyed (each sees one word's successor list, never the
    corpus); min_count=5 prunes the hapax tail first."""
    from pyspark.sql import Window
    ctx = _doc_context(spark, sf_dir)
    nxt = ctx.select("url", "idx", F.col("word").alias("w1"))
    fol = ctx.select("url", (F.col("idx") - 1).alias("idx"),
                     F.col("word").alias("w2"))
    big = (nxt.join(fol, ["url", "idx"])
           .groupBy("w1", "w2").agg(F.count("*").alias("c"))
           .where(F.col("c") >= 5))
    w = Window.partitionBy("w1").orderBy(F.col("c").desc(),
                                         F.col("w2").asc())
    return (big.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("w1", "w2", F.col("c").cast("bigint").alias("c"),
                    F.col("rk").cast("int").alias("rk")))


def q108_eval_sample(spark, sf_dir):
    """Deterministic eval/eyeball sample: 5 docs per source picked by
    content-hash order (md5 of the doc id — stable under
    repartitioning, backfills, and cluster-size changes, unlike any
    ORDER BY random()).  The dataset-card sample extractor; rank
    window over hash-keyed rows within each config-sized source."""
    from pyspark.sql import Window
    d = _load(spark, sf_dir, "documents")
    h = md5_int(F.col("doc_id").cast("string"), salt="sample:")
    w = Window.partitionBy("source").orderBy(h.asc(),
                                             F.col("doc_id").asc())
    return (d.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .select("source", "doc_id", "n_chars",
                    F.col("rk").cast("int").alias("rk")))


# deterministic messy-decoration appended to every 3rd doc (the
# DuckDB twin is _MESSY_TEXT_SQL below; the corpus itself is already
# normalized, so `changed` isolates exactly the decorated docs)
_MESSY_LIT = " “It’s — FINE”  end"
_MESSY_TEXT_SQL = ("(text || CASE WHEN doc_id % 3 = 0 "
                   f"THEN ' {_MESSY_LIT.strip()}' ELSE '' END)")


def _messy_text():
    return F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit(" " + _MESSY_LIT.strip())).otherwise(F.lit("")))


def q113_normalize(spark, sf_dir):
    """Canonical text normalization (functions.text.normalize_text):
    smart quotes/dashes/NBSP -> ASCII, lowercase, whitespace collapse
    — the shared key-normalization under every dedup family; `changed`
    isolates the deterministically-decorated docs, norm_fp is the
    exact-dedup key the restyled copy now collides on."""
    d = _load(spark, sf_dir, "documents")
    m = d.select("doc_id", _messy_text().alias("mt"))
    norm = TX.normalize_text(F.col("mt"))
    return m.select("doc_id",
                    (norm != F.col("mt")).cast("int").alias("changed"),
                    md5_int(norm).alias("norm_fp"))


def q116_weighted_sample(spark, sf_dir):
    """Sequential Poisson pps sample (operators.sample
    .weighted_priority_sample, Ohlsson 1998): 10 docs per source with
    inclusion probability ~ n_chars — the deterministic
    weight-proportional sampler for mixture construction and eval-set
    drawing; pure function of (id, weight), stable across cluster
    sizes and backfills."""
    from python_mecab_ner_spark.operators.sample import (
        weighted_priority_sample)
    d = _load(spark, sf_dir, "documents")
    return (weighted_priority_sample(d, "doc_id", "n_chars", "source",
                                     k=10)
            .select("source", "doc_id",
                    F.col("n_chars").cast("bigint").alias("n_chars"),
                    "priority"))


def q117_script_mix(spark, sf_dir):
    """Per-doc script composition (functions.text.script_mix_ppm):
    latin/digit/hangul/whitespace ppm over the PII-decorated text
    (q47's injected digits give the digit channel real variance) —
    the language-routing / mojibake gate before tokenizer choice.
    One projection, zero shuffle."""
    d = _load(spark, sf_dir, "documents")
    return (d.select("doc_id", _pii_text().alias("t"))
            .select("doc_id", *TX.script_mix_ppm(F.col("t"))))


def q121_blocklist(spark, sf_dir):
    """Phrase-blocklist screening (functions.text
    .blocklist_phrase_counts): word-boundary occurrence counts for
    each blocklist phrase via the replace-count identity — pure JVM
    string expressions, zero shuffle, one column per phrase.  The
    safety/boilerplate gate (NSFW terms, license boilerplate,
    error-page strings) every corpus release runs before training."""
    d = _load(spark, sf_dir, "documents")
    hits = d.select("doc_id",
                    *TX.blocklist_phrase_counts(F.col("text")))
    bl_cols = [c for c in hits.columns if c.startswith("bl_")]
    total = sum((F.col(c) for c in bl_cols), F.lit(0))
    return hits.select("doc_id", *bl_cols,
                       total.cast("bigint").alias("n_hits"),
                       (total > 0).cast("int").alias("blocked"))


HYPERBALL_ITERS = 2
HYPERBALL_REGS = 16


def _ps_edges(spark, sf_dir):
    """q49/q40-family part<->supplier bipartite edge list."""
    li = _load(spark, sf_dir, "lineitem")
    pairs = li.select((F.col("l_partkey") * 2).alias("p"),
                      (F.col("l_suppkey") * 2 + 1).alias("s")).distinct()
    return (pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
            .unionByName(pairs.select(F.col("s").alias("src"),
                                      F.col("p").alias("dst"))))


def q123_hyperball(spark, sf_dir):
    """HyperBall neighborhood sketches (operators.graph.hyperball,
    Boldi/Rosa/Vigna 2011): per-node HLL registers of the <= 2-hop
    ball over the q49 part<->supplier graph — the 100 TB path where
    exact k-hop materialization (q49) goes quadratic: state is
    O(nodes x 16) integers at ANY radius.  Register table is the
    oracle artifact (elementwise-max rounds are exact integers); the
    float neighborhood estimate is the documented client-side
    hll_estimate."""
    from python_mecab_ner_spark.operators.graph import hyperball
    edges = _ps_edges(spark, sf_dir)
    return (hyperball(edges, iters=HYPERBALL_ITERS,
                      n_registers=HYPERBALL_REGS)
            .select(F.col("node").cast("bigint").alias("node"),
                    "bucket", "max_rho"))


# robots.txt-style disallow rules for the synthetic frontier (q129):
# host -> path prefixes; h3 blocks everything, h4 has no rules
ROBOTS_RULES = [
    ("h0.example.com", "/s0"), ("h0.example.com", "/s1/t3"),
    ("h1.example.com", "/s2"),
    ("h2.example.com", "/s3/t5"), ("h2.example.com", "/s4"),
    ("h3.example.com", "/"),
]


def _frontier_urls(spark, sf_dir):
    """Deterministic synthetic crawl frontier over documents (the
    testdata has no URL column; md5-derived host/path injection, the
    same pattern as q47's synthetic PII)."""
    d = _load(spark, sf_dir, "documents")
    ds = F.col("doc_id").cast("string")
    host = F.concat(F.lit("h"),
                    F.pmod(md5_int(ds, salt="rgh:"), F.lit(5))
                    .cast("string"),
                    F.lit(".example.com"))
    path = F.concat(F.lit("/s"),
                    F.pmod(md5_int(ds, salt="rgp:"), F.lit(7))
                    .cast("string"),
                    F.lit("/t"),
                    F.pmod(md5_int(ds, salt="rgq:"), F.lit(11))
                    .cast("string"))
    return d.select("doc_id", host.alias("host"), path.alias("path"))


def q129_robots_gate(spark, sf_dir):
    """Robots-style frontier gating (operators.crawl.robots_gate):
    disallow-prefix rules collapse to one array per host (broadcast
    dimension), the frontier takes a zero-shuffle per-row `exists`
    prefix test, and the per-host allow/block tally is one combinable
    aggregate — the fetch-queue politeness filter ahead of
    crawl_budget."""
    from python_mecab_ner_spark.operators.crawl import robots_gate
    urls = _frontier_urls(spark, sf_dir)
    rules = spark.createDataFrame(ROBOTS_RULES, "host string, path string")
    gated = robots_gate(urls, rules)
    return (gated.groupBy("host")
            .agg(F.count("*").cast("bigint").alias("n_urls"),
                 F.sum("blocked").cast("bigint").alias("n_blocked"),
                 F.sum(1 - F.col("blocked")).cast("bigint")
                 .alias("n_allowed")))


def q133_fetch_rounds(spark, sf_dir):
    """Politeness-schedule depth of the robots-allowed frontier
    (operators.crawl.fetch_rounds over the q129 gate): round r = the
    r-th URL of its host under one-request-per-host-per-round;
    log2-bucketed round histogram = the crawl's parallelism-decay
    curve, max round = makespan.  The only window is per-host
    row_number (host-parallel, the runtime fetch queue's own shape)."""
    from python_mecab_ner_spark.operators.crawl import (
        fetch_rounds, robots_gate)
    urls = _frontier_urls(spark, sf_dir)
    rules = spark.createDataFrame(ROBOTS_RULES, "host string, path string")
    allowed = robots_gate(urls, rules).where("blocked = 0")
    return fetch_rounds(allowed, host_col="host", id_col="doc_id")


RECRAWL_EPOCHS = 8


def _snapshot_history(spark, sf_dir):
    """Deterministic per-epoch fingerprint history for q135: each url
    draws a change propensity (5..94%) from its id hash, then flips
    at epoch e iff md5("chg:u<id>:<e>") % 100 < pct; the fingerprint
    is the running version number.  Pure hash arithmetic — the DuckDB
    twin rebuilds it byte-identically."""
    from python_mecab_ner_spark.functions.hashing import md5_int
    d = _load(spark, sf_dir, "documents")
    base = d.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string"))
        .alias("url"),
        (F.lit(5) + md5_int(F.col("doc_id").cast("string"),
                            salt="rate:") % 90).alias("pct"),
        F.explode(F.sequence(F.lit(0), F.lit(RECRAWL_EPOCHS - 1)))
        .alias("epoch"))
    ver = F.aggregate(
        F.when(F.col("epoch") >= 1,
               F.sequence(F.lit(1), F.col("epoch")))
        .otherwise(F.expr("CAST(array() AS array<int>)")),
        F.lit(0),
        lambda acc, i: acc + (
            md5_int(F.concat(F.col("url"), F.lit(":"),
                             i.cast("string")), salt="chg:") % 100
            < F.col("pct")).cast("int"))
    return base.select("url", "epoch",
                       F.concat(F.lit("v"), ver.cast("string"))
                       .alias("fp"))


def q135_recrawl_schedule(spark, sf_dir):
    """Recrawl change-rate scheduling (operators.crawl
    .change_rate_schedule, the Cho & Garcia-Molina estimator in
    exact-integer form): per-url change transitions over an 8-epoch
    fingerprint history -> change_rate_ppm + bit-length refresh
    bucket — the priority classes a recrawl frontier consumes.  The
    only exchanges are a per-URL window (url-parallel) and the url-
    keyed aggregate."""
    from python_mecab_ner_spark.operators.crawl import (
        change_rate_schedule)
    return change_rate_schedule(_snapshot_history(spark, sf_dir))


TRUTH_SUBJECTS = 60
TRUTH_VALS = 5


def _claim_table(spark, sf_dir):
    """Deterministic conflicting-claims table for q136: each doc
    claims a value for one of 60 subjects; the true value is a hash
    of the subject, and the claim is corrupted with a per-SOURCE
    error rate (10..64%) — so sources genuinely differ in
    reliability, which is what the trust-update round must recover.
    Pure hash arithmetic, byte-identical DuckDB twin."""
    from python_mecab_ner_spark.functions.hashing import md5_int
    d = _load(spark, sf_dir, "documents")
    id_s = F.col("doc_id").cast("string")
    sid = md5_int(id_s, salt="subj:") % TRUTH_SUBJECTS
    tv = md5_int(sid.cast("string"), salt="true:") % TRUTH_VALS
    err_pct = F.lit(10) + md5_int(F.col("source"), salt="err:") % 55
    wrong = (md5_int(id_s, salt="obs:") % 100) < err_pct
    alt = (tv + 1 + md5_int(id_s, salt="alt:")
           % (TRUTH_VALS - 1)) % TRUTH_VALS
    return d.select("source", sid.alias("subj"),
                    F.when(wrong, alt).otherwise(tv).alias("val"))


def q136_truth_finding(spark, sf_dir):
    """Truth-finding claim adjudication (operators.truth
    .adjudicate_claims): majority vote per subject, Laplace-smoothed
    per-source trust from agreement with that consensus, then ONE
    trust-weighted revote (the first TruthFinder/Sums iteration) —
    the conflict-resolution pass a Knowledge-Vault-style KG runs
    before writing an edge.  All integer (trust in ppm, packed-
    integer argmax); no window — every argmax is a combinable max."""
    from python_mecab_ner_spark.operators.truth import adjudicate_claims
    return adjudicate_claims(_claim_table(spark, sf_dir))


def _c4_pages(spark, sf_dir):
    """Deterministic line-structured pages for q139 (the corpus has
    no newlines/punctuation, so — like q47's synthetic PII — the
    page structure is injected by hash): 4-token lines, 3/4 of them
    '.'-terminated, 1/7 prefixed with 'javascript ', 1/17 of pages
    get a trailing 'lorem ipsum .' line.  Byte-identical DuckDB
    twin; every C4 rule genuinely fires."""
    from python_mecab_ner_spark.functions.hashing import md5_int
    d = _load(spark, sf_dir, "documents")
    id_s = F.col("doc_id").cast("string")
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                    r"\s+", " "), " ")

    def build(t):
        last = F.greatest(F.floor((F.size(t) - F.lit(1)) / F.lit(4)),
                          F.lit(0)).cast("int")

        def line(i):
            key = F.concat(id_s, F.lit(":"), i.cast("string"))
            pre = (F.when(md5_int(key, salt="js:") % 7 == 0,
                          F.lit("javascript ")).otherwise(F.lit("")))
            suf = (F.when(md5_int(key, salt="punct:") % 4 > 0,
                          F.lit(".")).otherwise(F.lit("")))
            return F.concat(pre,
                            F.array_join(F.slice(t, i * 4 + 1, 4), " "),
                            suf)

        return F.array_join(
            F.transform(F.sequence(F.lit(0), last), line), "\n")

    page = TX._let(toks, build)
    page = (F.when(md5_int(id_s, salt="lorem:") % 17 == 0,
                   F.concat(page, F.lit("\nlorem ipsum .")))
            .otherwise(page))
    return d.select("doc_id", page.alias("page"))


def q139_c4_line_rules(spark, sf_dir):
    """C4 line-rule cleaning (functions.text.c4_line_stats, Raffel
    et al. 2020 §2.2): per page, lines dropped for missing terminal
    punctuation / too few words / 'javascript', the cleaned-page
    fingerprint, and the page-level lorem-ipsum / min-kept drop flag.
    Hierarchical attribution sums to n_lines; all rules are array
    expressions in the scan stage (the pages table is persisted so
    the hash-synthesized page column materializes once for the seven
    output columns)."""
    pages = _c4_pages(spark, sf_dir).persist()
    return pages.select("doc_id", *TX.c4_line_stats(F.col("page")))


def _ontology_triples(spark, sf_dir):
    """Deterministic typed triple table for the schema-induction suite
    (q140-q142), planted so every induced statistic is non-trivial:
    made_by/makes are exact inverses (jaccard_ppm = 1e6), in_nation is
    a true function of its subject (func_ppm = 1e6), ordered is
    many-many, linked has a parity-mixed domain (part vs supplier
    subjects).  Node ids are typed by last digit: key*10 + {0 part,
    1 supplier, 2 customer, 3 nation}.  Byte-identical DuckDB twin."""
    li = _load(spark, sf_dir, "lineitem")
    su = _load(spark, sf_dir, "supplier")
    od = _load(spark, sf_dir, "orders")
    ps = li.select((F.col("l_partkey") * 10).alias("p"),
                   (F.col("l_suppkey") * 10 + 1).alias("s")).distinct()

    def row(pred, subj, obj):
        return (F.lit(pred).alias("pred"),
                subj.cast("bigint").alias("subj"),
                obj.cast("bigint").alias("obj"))

    made_by = ps.select(*row("made_by", F.col("p"), F.col("s")))
    makes = ps.select(*row("makes", F.col("s"), F.col("p")))
    in_nation = su.select(*row("in_nation",
                               F.col("s_suppkey") * 10 + 1,
                               F.col("s_nationkey") * 10 + 3))
    ordered = (li.join(od, li["l_orderkey"] == od["o_orderkey"])
               .select(*row("ordered", F.col("o_custkey") * 10 + 2,
                            F.col("l_partkey") * 10)))
    linked = li.select(*row(
        "linked",
        F.when(F.col("l_linenumber") % 2 == 1, F.col("l_partkey") * 10)
        .otherwise(F.col("l_suppkey") * 10 + 1),
        (F.col("l_suppkey") % 25) * 10 + 3))
    return (made_by.unionByName(makes).unionByName(in_nation)
            .unionByName(ordered).unionByName(linked))


def _ontology_types(spark, sf_dir):
    """Entity-type dimension for q141: node id -> type name, from the
    four dimension tables (same typed-id encoding as
    _ontology_triples)."""
    def side(tbl, key, name):
        return (_load(spark, sf_dir, tbl)
                .select((F.col(key) * 10
                         + {"part": 0, "supplier": 1,
                            "customer": 2, "nation": 3}[name])
                        .cast("bigint").alias("node"),
                        F.lit(name).alias("type")))
    return (side("part", "p_partkey", "part")
            .unionByName(side("supplier", "s_suppkey", "supplier"))
            .unionByName(side("customer", "c_custkey", "customer"))
            .unionByName(side("nation", "n_nationkey", "nation")))


def q140_pred_functionality(spark, sf_dir):
    """PARIS predicate functionality (operators.ontology
    .predicate_functionality): per predicate, distinct-pair / subject
    / object counts and functionality + inverse functionality in ppm
    — the alias-merge-safety and truth-finding-eligibility sheet a KG
    builder computes before fusing extractors.  One aggregate over the
    distinct pair set; the planted in_nation row pins func_ppm = 1e6
    and made_by/ordered pin the many-valued cases."""
    from python_mecab_ner_spark.operators.ontology import (
        predicate_functionality)
    return predicate_functionality(_ontology_triples(spark, sf_dir))


def q141_domain_range(spark, sf_dir):
    """Domain/range type-constraint induction (operators.ontology
    .domain_range): per predicate the modal subject and object type
    with ppm support, from a broadcast entity-type dimension —
    Knowledge-Vault-style constraints extraction validators check new
    triples against.  The parity-mixed 'linked' predicate pins a
    split domain (support < 1e6; the split is distinct-PAIR-weighted,
    so the 20x part/supplier cardinality gap dominates the raw-row
    parity); the lexicographic tie-break is pinned by unit test."""
    from python_mecab_ner_spark.operators.ontology import domain_range
    return domain_range(_ontology_triples(spark, sf_dir),
                        _ontology_types(spark, sf_dir))


def q142_inverse_preds(spark, sf_dir):
    """Inverse-predicate detection (operators.ontology
    .inverse_predicates): predicate pairs whose directed pair sets
    mirror each other, scored by exact Jaccard in ppm over the
    reversed-pair hash join (co-partitioned on the pair key, never
    predicate-cross-product).  made_by/makes pins the perfect inverse
    at 1e6; p == q rows flag symmetric predicates."""
    from python_mecab_ner_spark.operators.ontology import (
        inverse_predicates)
    return inverse_predicates(_ontology_triples(spark, sf_dir))


WARC_FILES = 8   # synthetic WARC files the corpus is packed into


def q145_warc_roundtrip(spark, sf_dir):
    """WARC ingest round-trip (sources.warc): the documents table is
    serialized into spec-shaped WARC files (Content-Length byte
    framing, 8 files, records ordered by doc_id inside each) and
    parsed BACK through the byte-exact mapInPandas record scanner;
    output is (doc_id, n_chars, payload_md5) re-derived entirely from
    the parsed records.  The oracle computes the same sheet straight
    from the documents table — any framing, splitting, or payload
    corruption in the parser hash-mismatches.  Scale shape: one
    narrow synth aggregate into files, one narrow Arrow-batched parse
    stage; no shuffle after the file pack."""
    from python_mecab_ner_spark.sources.warc import (
        parse_warc_records, synthesize_warc)
    d = _load(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("https://w.example/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.col("text").alias("payload"))
    recs = synthesize_warc(pages)
    files = (recs
             .select(F.regexp_extract("url", r"/(\d+)$", 1)
                     .cast("bigint").alias("did"), "rec")
             .groupBy((F.col("did") % WARC_FILES).alias("g"))
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("did", "rec"))),
                     lambda x: x["rec"]), "").alias("warc")))
    parsed = parse_warc_records(files.select("warc"))
    return parsed.select(
        F.regexp_extract("url", r"/(\d+)$", 1).cast("bigint")
        .alias("doc_id"),
        F.length(F.col("html").cast("string")).cast("bigint")
        .alias("n_chars"),
        F.md5("html").alias("payload_md5"))


def q147_bcubed_eval(spark, sf_dir):
    """B-cubed clustering evaluation (operators.metrics.bcubed_ppm,
    Bagga & Baldwin '98) — the standard entity-resolution metric,
    here scoring the part table's brand "clustering" against the
    leading p_type word as gold classes.  Three partial-aggregable
    groupBys + a 1-row broadcast total, no windows; every division is
    the two-level integer floor (Spark `div` == DuckDB `//`), so the
    oracle matches bit-for-bit (the cross-engine float-trap rule).  The
    real consumer is kg_canonical_bcubed, which scores the LSH+CC
    alias canonicalization on the extracted entity dimension."""
    from python_mecab_ner_spark.operators.metrics import bcubed_ppm
    p = _load(spark, sf_dir, "part")
    return bcubed_ppm(
        p.select("p_partkey", F.col("p_brand").alias("cl"),
                 F.split(F.col("p_type"), " ")[0].alias("gd")),
        item="p_partkey", cluster="cl", gold="gd")


def q148_encoding_audit(spark, sf_dir):
    """Per-source encoding-QA sheet (operators.profile.encoding_audit):
    U+FFFD replacement-char and C0 control-char densities — the
    mojibake dashboard a crawl ingests before trusting a source.
    Deterministic fault injection (the q47-PII pattern): every 7th doc
    gains a replacement char, every 11th a control char, so the sheet
    has planted non-zero densities to certify.  Pure codegen counting
    (length minus stripped length) + ONE combinable source groupBy."""
    from python_mecab_ner_spark.operators.profile import encoding_audit
    d = _load(spark, sf_dir, "documents")
    page = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("�"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("\x01"))
        .otherwise(F.lit("")))
    return encoding_audit(d.select("source", page.alias("page")),
                          "page", "source")


def q149_ngram_diversity(spark, sf_dir):
    """Distinct-3-gram diversity per source (operators.profile
    .ngram_diversity): distinct word trigrams over total trigrams,
    ppm — the distinct-n audit that catches template spam a per-doc
    quality score misses.  N-grams are one per-row array expression
    (sequence + transform + slice, no window), then two shuffles:
    (source, gram) partial count, then the source rollup."""
    from python_mecab_ner_spark.operators.profile import ngram_diversity
    d = _loadp(spark, sf_dir, "documents")
    return ngram_diversity(d, "text", "source", n=3)


def _rule_triples(spark, sf_dir):
    """Typed triple fixture for the rule miner (q150): the q140 table
    shape RESTRICTED to l_orderkey % 16 == 0 (the body join squares
    per-entity degree, so the fixture keeps supplier fan-in ~35 not
    ~500) PLUS a planted head predicate ``supplied_from``: for EVEN
    parts only, (part, nation of one of its suppliers).  By
    construction supplied_from(x, z) holds for exactly the even-x
    bindings of the body made_by(x, y) AND in_nation(y, z) — so the
    rule scores ~5e5 standard confidence (odd parts disprove it
    closed-world) but exactly 1e6 PCA confidence (no odd part has ANY
    supplied_from edge, so open-world they don't count) — the
    CWA-vs-PCA gap AMIE exists to exploit.  Byte-identical DuckDB
    twin in oracle_sql."""
    li = (_load(spark, sf_dir, "lineitem")
          .where(F.col("l_orderkey") % 16 == 0))
    su = _load(spark, sf_dir, "supplier")
    od = _load(spark, sf_dir, "orders")
    ps = li.select((F.col("l_partkey") * 10).alias("p"),
                   (F.col("l_suppkey") * 10 + 1).alias("s")).distinct()

    def row(pred, subj, obj):
        return (F.lit(pred).alias("pred"),
                subj.cast("bigint").alias("subj"),
                obj.cast("bigint").alias("obj"))

    made_by = ps.select(*row("made_by", F.col("p"), F.col("s")))
    makes = ps.select(*row("makes", F.col("s"), F.col("p")))
    in_nation = su.select(*row("in_nation",
                               F.col("s_suppkey") * 10 + 1,
                               F.col("s_nationkey") * 10 + 3))
    ordered = (li.join(od, li["l_orderkey"] == od["o_orderkey"])
               .select(*row("ordered", F.col("o_custkey") * 10 + 2,
                            F.col("l_partkey") * 10)))
    linked = li.select(*row(
        "linked",
        F.when(F.col("l_linenumber") % 2 == 1, F.col("l_partkey") * 10)
        .otherwise(F.col("l_suppkey") * 10 + 1),
        (F.col("l_suppkey") % 25) * 10 + 3))
    supplied_from = (li.join(su, li["l_suppkey"] == su["s_suppkey"])
                     .where(F.col("l_partkey") % 2 == 0)
                     .select(*row("supplied_from",
                                  F.col("l_partkey") * 10,
                                  F.col("s_nationkey") * 10 + 3))
                     .distinct())
    return (made_by.unionByName(makes).unionByName(in_nation)
            .unionByName(ordered).unionByName(linked)
            .unionByName(supplied_from))


def q150_rule_mining(spark, sf_dir):
    """AMIE-style horn-rule mining (operators.ontology.rule_mining):
    every p(x,y) AND q(y,z) => r(x,z) candidate with support >= 2,
    scored by standard (CWA) and PCA confidence in exact-integer ppm.
    The planted supplied_from rule pins pca_conf_ppm = 1e6 against
    ~5e5 standard — AMIE's reason to exist.  Body join keyed on the
    shared entity; the degree cap (max_join_degree) stays off here so
    the fixture is cap-free — the capped path is pinned by the
    python-twin unit test."""
    from python_mecab_ner_spark.operators.ontology import rule_mining
    # the persisted working sets stay attached via out.unpersist_input
    # (the q141/q142 convention: callers that collect may release)
    return rule_mining(_rule_triples(spark, sf_dir), min_support=2)


def q151_edge_lifespan(spark, sf_dir):
    """Temporal edge lifespan / SCD2 over a versioned edge table
    (operators.temporal.edge_lifespan): three deterministic crawl
    versions of the (orderkey -> partkey) edge set — v1 keeps
    l_linenumber <= 4, v2 >= 2, v3 odd — so edges flap: a
    linenumber-1-only edge is asserted by v1 and v3 but not v2
    (n_gaps = 1, the resurrection signature).  One combinable
    groupBy on the edge key + a 1-row broadcast current-version
    total; duplicate (version, key) witness rows collapse via
    countDistinct."""
    from python_mecab_ner_spark.operators.temporal import edge_lifespan
    li = _load(spark, sf_dir, "lineitem")

    def ver(cond, v):
        return (li.where(cond)
                .select(F.col("l_orderkey").cast("bigint").alias("src"),
                        F.col("l_partkey").cast("bigint").alias("dst"),
                        F.lit(v).alias("version")))

    edges = (ver(F.col("l_linenumber") <= 4, 1)
             .unionByName(ver(F.col("l_linenumber") >= 2, 2))
             .unionByName(ver(F.col("l_linenumber") % 2 == 1, 3)))
    return edge_lifespan(edges, ["src", "dst"])


def q154_modularity(spark, sf_dir):
    """Modularity Q of the q70 LPA partition (operators.graph.
    modularity_ppm): exact-integer partition-quality score over the
    same symmetrized weighted part<->supplier graph — the audit that
    says whether the communities are structure or noise.  Oracle
    reuses the unrolled-LPA CTE chain verbatim and appends the
    modularity arithmetic (shift-by-W^2 keeps the dividend
    non-negative so Spark div == DuckDB //)."""
    from python_mecab_ner_spark.operators.graph import (
        label_propagation_int, modularity_ppm)
    li = _load(spark, sf_dir, "lineitem")
    pairs = (li.groupBy((F.col("l_partkey") * 2).alias("p"),
                        (F.col("l_suppkey") * 2 + 1).alias("s"))
             .agg(F.count("*").cast("bigint").alias("w")))
    edges = (pairs.select(F.col("p").alias("src"),
                          F.col("s").alias("dst"), "w")
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("p").alias("dst"), "w"))
             .localCheckpoint())
    # checkpoint the LPA labels: modularity consumes them THREE times
    # (community strength + both endpoints of the intra join), and a
    # lazy 2-iteration LPA plan would replay per consumer (measured
    # 17.5 s -> 2.9 s at sf0.1)
    comm = label_propagation_int(edges, iters=2, weight="w") \
        .localCheckpoint()
    return modularity_ppm(edges, comm, weight="w")


def q155_entity_alignment(spark, sf_dir):
    """PARIS-style instance alignment across two KG snapshots
    (operators.ontology.align_entities): snapshot A = part attribute
    statements (name / brand / ptype predicates, subj =
    p_partkey); snapshot B = the same statements under surrogate ids
    (+10M) with ~30% deterministically dropped (md5 % 10 >= 7) — the
    recrawl-reconciliation shape.  Inverse-functionality weighting
    makes near-unique predicates (name) dominate hub predicates
    (brand/ptype, df-capped away).  Output: B-entity -> best A-entity with
    integer evidence score."""
    from python_mecab_ner_spark.operators.ontology import \
        align_entities
    from python_mecab_ner_spark.functions.hashing import md5_int
    part = _load(spark, sf_dir, "part").where(F.col("p_partkey") <= 2000)
    a = part.selectExpr(
        "p_partkey AS subj",
        "stack(3, 'name', p_name, 'brand', p_brand, "
        "'ptype', p_type) AS (pred, obj)")
    b = (a.withColumn(
        "_h", md5_int(F.concat_ws(":", F.col("subj").cast("string"),
                                  "pred", "obj"), salt="align:"))
        .where(F.col("_h") % 10 < 7)
        .select((F.col("subj") + 10_000_000).alias("subj"),
                "pred", "obj"))
    return (align_entities(a, b, max_df=64)
            .select(F.col("entity_b").cast("bigint").alias("entity_b"),
                    F.col("entity_a").cast("bigint").alias("entity_a"),
                    "score_milli", "n_partners"))


def q156_type_propagation(spark, sf_dir):
    """Seeded entity-type inference (operators.ontology.
    propagate_types): suppliers are typed by nation (the seed dim);
    two synchronous rounds propagate the modal neighbor type to the
    untyped part side of the symmetrized part<->supplier graph, seeds
    clamped — the Zhu/Ghahramani semi-supervised step that fills the
    type column schema induction (q141) needs.  Bit-exact vs the
    unrolled-SQL oracle."""
    from python_mecab_ner_spark.operators.ontology import \
        propagate_types
    li = _load(spark, sf_dir, "lineitem")
    sup = _load(spark, sf_dir, "supplier")
    pairs = (li.select((F.col("l_partkey") * 2).alias("p"),
                       (F.col("l_suppkey") * 2 + 1).alias("s"))
             .distinct())
    edges = (pairs.select(F.col("p").alias("src"),
                          F.col("s").alias("dst"))
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("p").alias("dst"))))
    seeds = sup.select((F.col("s_suppkey") * 2 + 1).alias("node"),
                       F.col("s_nationkey").cast("bigint")
                       .alias("type_id"))
    return (propagate_types(edges, seeds, iters=2)
            .where(F.col("type_id").isNotNull())
            .select(F.col("node").cast("bigint").alias("node"),
                    "type_id"))


def q157_edge_cut(spark, sf_dir):
    """Partition-layout edge-cut audit (operators.graph.
    edge_cut_audit) for the materialized part->supplier edge table:
    md5-hash mod 32 vs key-range (div 4096) vs mod-8 layouts, one
    combinable aggregate per layout — the measured input to the
    'how do we partition the edge table' design decision the
    north rule demands."""
    from python_mecab_ner_spark.operators.graph import edge_cut_audit
    from python_mecab_ner_spark.functions.hashing import md5_int
    li = _load(spark, sf_dir, "lineitem")
    edges = (li.select((F.col("l_partkey") * 2).alias("src"),
                       (F.col("l_suppkey") * 2 + 1).alias("dst"))
             .distinct())
    layouts = {
        "hash32": lambda c: md5_int(c.cast("string"), salt="cut:")
        % 32,
        # ids are non-negative, so truncating cast == integer div
        "range4096": lambda c: (c / 4096).cast("bigint"),
        "mod8": lambda c: c % 8,
    }
    return edge_cut_audit(edges, layouts)


def _betweenness_oracle_sql(radius: int = 3,
                            scale: int = 1_000_000) -> str:
    """Unrolled Brandes twin of q190: forward sigma-carrying BFS
    levels, then the backward floor-div dependency per level.  Level
    and delta CTEs MATERIALIZED — each feeds multiple later
    consumers, and inlining would re-expand them per reference."""
    s = """
        WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
                              l_suppkey * 2 + 1 AS s FROM lineitem),
        e AS (SELECT p AS src, s AS dst FROM pairs
              UNION ALL SELECT s, p FROM pairs),
        l0 AS MATERIALIZED (
            SELECT p_partkey * 2 AS root, p_partkey * 2 AS v,
                   CAST(1 AS BIGINT) AS sigma
            FROM part WHERE p_partkey <= 100)"""
    prev_union = "SELECT root, v FROM l0"
    for k in range(1, radius + 1):
        s += f""",
        x{k} AS MATERIALIZED (
            SELECT l.root, e.dst AS v, sum(l.sigma) AS sigma
            FROM l{k - 1} l JOIN e ON e.src = l.v
            GROUP BY 1, 2),
        l{k} AS MATERIALIZED (
            SELECT x.root, x.v, x.sigma FROM x{k} x
            LEFT JOIN ({prev_union}) u
              ON u.root = x.root AND u.v = x.v
            WHERE u.root IS NULL)"""
        prev_union += f" UNION ALL SELECT root, v FROM l{k}"
    s += f""",
        d{radius} AS MATERIALIZED (
            SELECT root, v, sigma, CAST(0 AS BIGINT) AS delta
            FROM l{radius})"""
    for k in range(radius - 1, 0, -1):
        s += f""",
        c{k} AS MATERIALIZED (
            SELECT l.root, l.v,
                   sum((l.sigma * ({scale} + dn.delta)) // dn.sigma)
                       AS dsum
            FROM l{k} l JOIN e ON e.src = l.v
            JOIN d{k + 1} dn ON dn.root = l.root AND dn.v = e.dst
            GROUP BY 1, 2),
        d{k} AS MATERIALIZED (
            SELECT l.root, l.v, l.sigma,
                   CAST(coalesce(c.dsum, 0) AS BIGINT) AS delta
            FROM l{k} l LEFT JOIN c{k} c
              ON c.root = l.root AND c.v = l.v)"""
    alld = " UNION ALL ".join(
        f"SELECT root, v, delta FROM d{k}"
        for k in range(1, radius + 1))
    return s + f""",
        alld AS ({alld})
        SELECT CAST(v AS BIGINT) AS node,
               CAST(count(*) AS BIGINT) AS n_roots,
               CAST(sum(delta) AS BIGINT) AS bw_scaled
        FROM alld GROUP BY 1"""


def _coverage_oracle_sql(k: int = 5) -> str:
    """Unrolled greedy-max-coverage twin of q193: per round the
    (max gain, min item) winner over the LIVE incidence table, then
    the winner's elements anti-joined out.  Live tables MATERIALIZED
    (each feeds the next round's count and the elem subquery).
    Elements are BIGRAMS (see q193's docstring: the unigram universe
    is one-doc-coverable on this corpus); DuckDB lists are 1-based
    and range(a, b) is b-exclusive, so i spans 1..len-1."""
    s = """
        WITH p0 AS MATERIALIZED (
            SELECT DISTINCT doc_id AS item, elem FROM (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(w)),
                            i -> w[i] || ' ' || w[i + 1])) AS elem
              FROM (SELECT doc_id,
                           list_filter(regexp_split_to_array(
                               lower(trim(text)), '\\s+'),
                               s -> s <> '') AS w
                    FROM documents)))"""
    for r in range(1, k + 1):
        s += f""",
        s{r} AS MATERIALIZED (
            SELECT {r} AS round, item, CAST(count(*) AS BIGINT) AS gain
            FROM p{r - 1} GROUP BY item
            ORDER BY gain DESC, item LIMIT 1)"""
        if r < k:
            s += f""",
        p{r} AS MATERIALIZED (
            SELECT p.item, p.elem FROM p{r - 1} p
            WHERE p.elem NOT IN (
              SELECT q.elem FROM p{r - 1} q JOIN s{r} USING (item)))"""
    unions = " UNION ALL ".join(f"SELECT * FROM s{r}"
                                for r in range(1, k + 1))
    return s + f"""
        SELECT CAST(round AS INT) AS round,
               CAST(item AS BIGINT) AS item, gain
        FROM ({unions})"""


def _url_templates_oracle_sql() -> str:
    """q195 oracle: the identical RE2 generalization rules over the
    injected route URLs (plain string, no f-string — the template
    braces are literal)."""
    return ("""
        WITH raw AS (SELECT """ + _template_url_sql() + """ AS u
                     FROM documents),
        hp AS (SELECT regexp_extract(u, '^[a-z]+://([^/?#]+)', 1)
                          AS host,
                      regexp_extract(u, '^[a-z]+://[^/?#]+([^?#]*)', 1)
                          AS path
               FROM raw),
        g AS (SELECT host,
                     '/' || array_to_string(list_transform(
                         list_filter(string_split(path, '/'),
                                     s -> s <> ''),
                         s -> CASE
                           WHEN regexp_full_match(s, '[0-9]+')
                             THEN '{n}'
                           WHEN regexp_full_match(s, '[0-9a-f]{8,}')
                             THEN '{h}'
                           ELSE s END), '/') AS template
              FROM hp)
        SELECT host, template, CAST(count(*) AS BIGINT) AS n_urls
        FROM g GROUP BY 1, 2""")


def _typeprop_oracle_sql(iters: int = 2, type_bits: int = 20) -> str:
    """Unrolled seeded type-propagation twin of q156 (same packed
    argmax + seed clamp per round)."""
    cap = 1 << type_bits
    s = """
        WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
                              l_suppkey * 2 + 1 AS s FROM lineitem),
        e AS (SELECT p AS src, s AS dst FROM pairs
              UNION ALL SELECT s, p FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT dst FROM e),
        sd AS (SELECT s_suppkey * 2 + 1 AS node,
                      CAST(s_nationkey AS BIGINT) AS seed_ty
               FROM supplier),
        lab0 AS MATERIALIZED (
            SELECT n.node, sd.seed_ty AS ty
            FROM nodes n LEFT JOIN sd ON sd.node = n.node)"""
    for k in range(1, iters + 1):
        s += f""",
        v{k} AS (SELECT e.dst AS node, l.ty AS ty, count(*) AS c
                 FROM e JOIN lab{k - 1} l ON l.node = e.src
                 WHERE l.ty IS NOT NULL GROUP BY 1, 2),
        p{k} AS (SELECT node,
                        max(c * {cap} + ({cap - 1} - ty)) AS mx
                 FROM v{k} GROUP BY 1),
        lab{k} AS MATERIALIZED (
            SELECT n.node,
                   CAST(coalesce(s.seed_ty,
                                 {cap - 1} - (mx & {cap - 1}),
                                 n.ty) AS BIGINT) AS ty
            FROM lab{k - 1} n
            LEFT JOIN p{k} p ON p.node = n.node
            LEFT JOIN sd s ON s.node = n.node)"""
    return s + f"""
        SELECT CAST(node AS BIGINT) AS node, ty AS type_id
        FROM lab{iters} WHERE ty IS NOT NULL"""


_MODULARITY_FINAL = """,
        tot AS (SELECT sum(w) AS w_tot FROM e),
        deg AS (SELECT src AS node, sum(w) AS sd FROM e GROUP BY 1),
        sc AS (SELECT l.lab AS community, sum(d.sd) AS s_c
               FROM deg d JOIN lab2 l ON l.node = d.node GROUP BY 1),
        wc AS (SELECT ls.lab AS community, sum(e.w) AS w_c
               FROM e JOIN lab2 ls ON ls.node = e.src
                      JOIN lab2 ld ON ld.node = e.dst
               WHERE ls.lab = ld.lab GROUP BY 1),
        per AS (SELECT sc.community, sc.s_c,
                       coalesce(wc.w_c, 0) AS w_c
                FROM sc LEFT JOIN wc USING (community)),
        sums AS (SELECT count(*) AS n_communities,
                        sum(w_c) AS intra_w,
                        sum(s_c * s_c) AS s2 FROM per)
        SELECT CAST(n_communities AS BIGINT) AS n_communities,
               CAST(w_tot AS BIGINT) AS w_tot,
               CAST(intra_w AS BIGINT) AS intra_w,
               CAST((1000000 * (w_tot * intra_w - s2
                                + w_tot * w_tot))
                    // (w_tot * w_tot) - 1000000 AS BIGINT)
                   AS modularity_ppm
        FROM sums, tot"""


def q159_warm_pagerank(spark, sf_dir):
    """Incremental PageRank maintenance (operators.graph.pagerank_int
    with init=): ranks of the PREVIOUS crawl's graph (90% of lineitem
    edges, 2 cold iterations) warm-start ONE refresh iteration on the
    full merged graph — the recrawl form where a converged snapshot +
    one pass replaces a cold 3-iteration recompute.  New nodes enter
    at the teleport base; integer arithmetic end-to-end, so the
    two-phase recurrence hash-matches the generated oracle."""
    from python_mecab_ner_spark.operators.graph import pagerank_int
    li = _load(spark, sf_dir, "lineitem")

    def mkedges(frame):
        pairs = frame.select((F.col("l_partkey") * 2).alias("p"),
                             (F.col("l_suppkey") * 2 + 1).alias("s")) \
            .distinct()
        return (pairs.select(F.col("p").alias("src"),
                             F.col("s").alias("dst"))
                .unionByName(pairs.select(F.col("s").alias("src"),
                                          F.col("p").alias("dst"))))
    old = mkedges(li.where(F.col("l_orderkey") % 10 != 0))
    full = mkedges(li)
    pr_old = pagerank_int(old, iters=2).localCheckpoint()
    return (pagerank_int(full, iters=1, init=pr_old)
            .select(F.col("node").cast("bigint").alias("node"), "pr"))


def _warm_pr_oracle_sql(old_iters: int = 2) -> str:
    """Generated twin of q159: the q40 unrolled-PR chain on the
    filtered OLD graph, then one warm iteration on the full graph
    with init = old ranks (new nodes at scale)."""

    def chain(tag, edge_filter, iters, init_from=None):
        s = f""",
        pairs{tag} AS (SELECT DISTINCT l_partkey * 2 AS p,
                              l_suppkey * 2 + 1 AS s
                       FROM lineitem{edge_filter}),
        e{tag} AS (SELECT p AS src, s AS dst FROM pairs{tag}
                   UNION ALL SELECT s, p FROM pairs{tag}),
        nodes{tag} AS (SELECT DISTINCT src AS node FROM e{tag}
                       UNION SELECT dst FROM e{tag}),
        od{tag} AS (SELECT src, count(*) AS od FROM e{tag} GROUP BY 1)"""
        if init_from is None:
            s += f""",
        pr{tag}0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr
                     FROM nodes{tag})"""
        else:
            s += f""",
        pr{tag}0 AS (SELECT n.node,
                            CAST(coalesce(i.pr, 1000000) AS BIGINT)
                                AS pr
                     FROM nodes{tag} n
                     LEFT JOIN {init_from} i ON i.node = n.node)"""
        for k in range(1, iters + 1):
            s += f""",
        m{tag}{k} AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
                      FROM e{tag} e JOIN pr{tag}{k - 1} p
                        ON p.node = e.src
                      JOIN od{tag} o ON o.src = e.src GROUP BY 1),
        pr{tag}{k} AS (SELECT n.node,
                              CAST(150000 + (85 * coalesce(m.m, 0))
                                   // 100 AS BIGINT) AS pr
                       FROM nodes{tag} n
                       LEFT JOIN m{tag}{k} m ON m.node = n.node)"""
        return s

    body = chain("o", " WHERE l_orderkey % 10 <> 0", old_iters)
    body += chain("f", "", 1, init_from=f"pro{old_iters}")
    return ("WITH _x AS (SELECT 1)" + body + """
        SELECT CAST(node AS BIGINT) AS node, pr FROM prf1""")


def q160_contrastive_pairs(spark, sf_dir):
    """Contrastive encoder training pairs (operators.pack.
    contrastive_pairs): anchor = each documents chunk with a
    successor, positive = the next overlapping chunk, negative = the
    min-fingerprint representative of a content-hash bucket —
    deterministic at any cluster size, same-doc false negatives
    dropped.  The q67 chunking kernel underneath, so fingerprints
    hash-match the DuckDB twin."""
    from python_mecab_ner_spark.operators.pack import contrastive_pairs
    docs = _load(spark, sf_dir, "documents")
    return contrastive_pairs(docs, "text", "doc_id",
                             size=32, stride=24, n_buckets=64)


def q161_wl_classes(spark, sf_dir):
    """Weisfeiler-Lehman refinement trajectory (operators.graph.
    wl_signatures) on the symmetrized part<->supplier graph: distinct
    structural-equivalence classes and largest class size per
    refinement round — round 0 is one class, round 1 the in-degree
    classes, round k the depth-k neighborhood shapes.  How fast the
    trajectory individualizes is the graph-shape audit (template/farm
    graphs plateau at few classes; organic graphs explode to
    singletons — this one fully individualizes by round 2).
    Bit-exact md5 labels vs the generated unrolled-SQL twin."""
    from python_mecab_ner_spark.operators.graph import wl_trajectory
    return wl_trajectory(_ps_edges(spark, sf_dir), iters=2)


def _wl_oracle_sql(iters: int = 2) -> str:
    """Unrolled WL color-refinement twin of q161 (same canonical
    string, same md5 label derivation per round; one (n_classes,
    max_class) row per round 0..iters)."""
    s = """
        WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
                              l_suppkey * 2 + 1 AS s FROM lineitem),
        e AS (SELECT p AS src, s AS dst FROM pairs
              UNION ALL SELECT s, p FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT dst FROM e),
        lab0 AS (SELECT node, CAST(1 AS BIGINT) AS l FROM nodes)"""
    for k in range(1, iters + 1):
        joined = ("array_to_string(list_transform("
                  f"list(l.l ORDER BY l.l), x -> CAST(x AS VARCHAR)), ',')")
        s += f""",
        nb{k} AS (SELECT e.dst AS node, {joined} AS ns
                  FROM e JOIN lab{k - 1} l ON l.node = e.src
                  GROUP BY 1),
        lab{k} AS MATERIALIZED (
            SELECT n.node,
                   {md5_int_sql(
                       "concat(CAST(n.l AS VARCHAR), ':', "
                       "coalesce(nb.ns, ''))")} AS l
            FROM lab{k - 1} n
            LEFT JOIN nb{k} nb ON nb.node = n.node)"""
    rounds = " UNION ALL ".join(
        f"""SELECT CAST({k} AS INT) AS round,
                   CAST(count(*) AS BIGINT) AS n_classes,
                   CAST(max(sz) AS BIGINT) AS max_class
            FROM (SELECT l, count(*) AS sz FROM lab{k} GROUP BY 1)"""
        for k in range(0, iters + 1))
    return s + f"""
        {rounds}"""


def q162_scc(spark, sf_dir):
    """Strongly connected components (operators.graph.
    strongly_connected_components, FW-BW min-coloring — exact, raises
    rather than mislabel on round exhaustion) over a planted directed
    graph on customer keys <= 300: thirty 10-cycles, forward
    cycle-to-cycle links every other pair (SCC-DAG edges), and
    back-links every fourth pair that merge two cycles into one
    20-node SCC.  scc_id = min node id in the component; the oracle
    is the recursive-CTE transitive closure's mutual-reachability
    partition — the ground-truth definition, computed a completely
    different way."""
    from python_mecab_ner_spark.operators.graph import \
        strongly_connected_components
    cust = _load(spark, sf_dir, "customer") \
        .where((F.col("c_custkey") >= 1) & (F.col("c_custkey") <= 300)) \
        .select(F.col("c_custkey").cast("bigint").alias("i"))
    ring = cust.select(
        F.col("i").alias("src"),
        F.when(F.col("i") % 10 == 0, F.col("i") - 9)
        .otherwise(F.col("i") + 1).alias("dst"))
    fwd = (cust.where((F.col("i") % 20 == 5) & (F.col("i") + 10 <= 300))
           .select(F.col("i").alias("src"),
                   (F.col("i") + 10).alias("dst")))
    back = (cust.where((F.col("i") % 40 == 15) & (F.col("i") - 10 >= 1))
            .select(F.col("i").alias("src"),
                    (F.col("i") - 10).alias("dst")))
    edges = ring.unionByName(fwd).unionByName(back)
    return (strongly_connected_components(edges)
            .select(F.col("node").cast("bigint").alias("node"),
                    F.col("scc_id").cast("bigint").alias("scc_id")))


def q163_itemsets(spark, sf_dir):
    """A-priori frequent 3-itemsets (operators.colloc.
    frequent_itemsets3) over order baskets of part brands: the
    market-basket miner — level-wise support pruning, candidate
    closure against broadcast L2, distinct-basket support counted on
    the co-partitioned basket key.  The co-mention-set generalization
    of pairwise PMI (q50)."""
    from python_mecab_ner_spark.operators.colloc import \
        frequent_itemsets3
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    baskets = (li.join(part, li["l_partkey"] == part["p_partkey"])
               .select(F.col("l_orderkey").alias("basket"),
                       F.col("p_brand").alias("item")))
    out = frequent_itemsets3(baskets, min_support=50)
    res = out.select("item_a", "item_b", "item_c", "support")
    res.unpersist_input = out.unpersist_input
    return res


_CONTRACTION_FINAL = """,
        ec AS (SELECT ls.lab AS cs, ld.lab AS cd, e.w
               FROM e JOIN lab2 ls ON ls.node = e.src
                      JOIN lab2 ld ON ld.node = e.dst),
        sums AS (SELECT count(*) AS n_edges,
                        sum(CASE WHEN cs = cd THEN w ELSE 0 END)
                            AS intra_w,
                        sum(CASE WHEN cs <> cd THEN w ELSE 0 END)
                            AS inter_w
                 FROM ec),
        sn AS (SELECT count(DISTINCT lab) AS n_supernodes FROM lab2),
        se AS (SELECT count(*) AS n_superedges
               FROM (SELECT DISTINCT cs, cd FROM ec WHERE cs <> cd))
        SELECT CAST(n_supernodes AS BIGINT) AS n_supernodes,
               CAST(n_superedges AS BIGINT) AS n_superedges,
               CAST(n_edges AS BIGINT) AS n_edges,
               CAST(intra_w AS BIGINT) AS intra_w,
               CAST(inter_w AS BIGINT) AS inter_w,
               CAST((n_superedges * 1000000) // n_edges AS BIGINT)
                   AS compression_ppm
        FROM sn, se, sums"""


def q164_graph_contraction(spark, sf_dir):
    """Community-contraction graph summarization: collapse the q70
    LPA communities into supernodes and count the surviving distinct
    super-edges — the compression audit behind graph-summary storage
    and multi-level (coarsened) graph processing.  One row:
    supernode/superedge counts, intra/inter weight mass, and the
    edge-compression ratio in ppm.  Reuses the unrolled-LPA oracle
    chain verbatim."""
    from python_mecab_ner_spark.operators.graph import \
        label_propagation_int
    li = _load(spark, sf_dir, "lineitem")
    pairs = (li.groupBy((F.col("l_partkey") * 2).alias("p"),
                        (F.col("l_suppkey") * 2 + 1).alias("s"))
             .agg(F.count("*").cast("bigint").alias("w")))
    edges = (pairs.select(F.col("p").alias("src"),
                          F.col("s").alias("dst"), "w")
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("p").alias("dst"), "w"))
             .localCheckpoint())
    comm = label_propagation_int(edges, iters=2, weight="w") \
        .localCheckpoint()
    ec = (edges.join(comm.withColumnRenamed("node", "src")
                     .withColumnRenamed("community", "cs"), "src")
          .join(comm.withColumnRenamed("node", "dst")
                .withColumnRenamed("community", "cd"), "dst")
          .select("cs", "cd", "w"))
    sums = ec.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.sum(F.when(F.col("cs") == F.col("cd"), F.col("w"))
              .otherwise(0)).cast("bigint").alias("intra_w"),
        F.sum(F.when(F.col("cs") != F.col("cd"), F.col("w"))
              .otherwise(0)).cast("bigint").alias("inter_w"))
    sn = comm.agg(F.countDistinct("community").cast("bigint")
                  .alias("n_supernodes"))
    se = (ec.where(F.col("cs") != F.col("cd"))
          .select("cs", "cd").distinct()
          .agg(F.count("*").cast("bigint").alias("n_superedges")))
    return (sums.crossJoin(F.broadcast(sn)).crossJoin(F.broadcast(se))
            .select("n_supernodes", "n_superedges", "n_edges",
                    "intra_w", "inter_w",
                    F.expr("(n_superedges * 1000000) div n_edges")
                    .cast("bigint").alias("compression_ppm")))


def q165_epoch_allocation(spark, sf_dir):
    """Data-constrained token-budget allocation (operators.sample.
    epoch_allocation, Muennighoff et al. 2023): a 1M-char budget
    split uniformly across language groups with a 4-epoch repeat cap
    — small languages hit their cap and the surplus re-flows to
    headroom by the exact-integer Hamilton step.  Invariant
    sum(take) == min(budget, sum cap) holds bit-exactly on both
    engines."""
    from python_mecab_ner_spark.operators.sample import \
        epoch_allocation
    docs = _load(spark, sf_dir, "documents")
    src = (docs.groupBy(F.coalesce("lang", F.lit("unk"))
                        .alias("source"))
           .agg(F.sum("n_chars").cast("bigint").alias("tokens")))
    return epoch_allocation(src, budget=1_000_000, max_epochs=4)


def q169_heaps_law(spark, sf_dir):
    """Vocabulary-growth (Heaps law) audit over hash-nested corpus
    subsets: distinct terms at 25% / 50% / 100% of documents
    (md5(doc) % 4 < 1 ⊂ < 2 ⊂ < 4 — NESTED by construction, so the
    three points are a genuine growth curve, not three random
    samples).  Sublinear vocab growth is the expected shape; a
    LINEAR curve means unbounded surface forms (ids, hashes,
    boilerplate noise) — the tokenizer/normalization alarm.  ONE
    scan, one aggregate: per level, conditional countDistinct."""
    from python_mecab_ner_spark.functions.hashing import md5_int
    docs = _load(spark, sf_dir, "documents")
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                    r"\s+", " "), " ")
    t = (docs.select(F.col("doc_id"),
                     F.pmod(md5_int(F.col("doc_id").cast("string"),
                                    salt="heaps:"), F.lit(4))
                     .alias("h"),
                     F.explode(toks).alias("term"))
         .where(F.col("term") != ""))
    aggs = []
    for lvl in (1, 2, 4):
        c = F.col("h") < lvl
        aggs += [
            F.countDistinct(F.when(c, F.col("doc_id")))
            .cast("bigint").alias(f"docs_{lvl}"),
            F.sum(c.cast("bigint")).cast("bigint")
            .alias(f"tokens_{lvl}"),
            F.countDistinct(F.when(c, F.col("term")))
            .cast("bigint").alias(f"vocab_{lvl}")]
    one = t.agg(*aggs)
    return one.selectExpr(
        "stack(3, 1, docs_1, tokens_1, vocab_1, "
        "2, docs_2, tokens_2, vocab_2, "
        "4, docs_4, tokens_4, vocab_4) "
        "AS (level, n_docs, n_tokens, vocab)")


def q171_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood ER blocking (operators.dedup
    .sorted_neighborhood_pairs, Hernandez & Stolfo): documents ordered
    by the first 16 chars of normalized text, candidate pairs within a
    4-record sliding window — the skew-immune third blocking strategy
    next to token-key (q16/q17) and deletion-key (SymSpell) blocking.
    The global order comes from global_rank (range partition +
    partition-offset row numbers, Spark's native TB-sort path — no
    single-partition window), certified here against the oracle's
    one-window row_number()."""
    from python_mecab_ner_spark.operators.dedup import \
        sorted_neighborhood_pairs
    docs = _load(spark, sf_dir, "documents")
    key = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
        1, 16)
    base = docs.select(key.alias("blk"),
                       F.col("doc_id").cast("bigint").alias("doc_id"))
    out = sorted_neighborhood_pairs(base, "blk", "doc_id", window=4)
    res = out.select(F.col("id_a").cast("bigint").alias("id_a"),
                     F.col("id_b").cast("bigint").alias("id_b"),
                     "key_a", "key_b", "gap")
    res.unpersist_input = out.unpersist_input
    return res


KTRUSS_K = 4
KTRUSS_ROUNDS = 3


def q173_ktruss(spark, sf_dir):
    """k-truss peel (operators.graph.ktruss) of the thin co-purchase
    graph (parts sharing an order, quantity <= 15): every surviving
    edge sits in >= k-2 triangles among survivors — the edge-level
    cohesion filter that cuts the star spam hubs a k-core keeps.
    Fixed 3 rounds against the unrolled oracle; the peel cascades
    genuinely here (3874 -> 3639 -> 3637 edges at sf0.01, fixpoint at
    round 3) and support is recomputed on the final survivor set."""
    from python_mecab_ner_spark.operators.graph import ktruss
    edges = _copurchase_pairs(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst"))
    return (ktruss(edges, k=KTRUSS_K, rounds=KTRUSS_ROUNDS)
            .select(F.col("a").cast("bigint").alias("a"),
                    F.col("b").cast("bigint").alias("b"), "support"))


def q176_star_cc(spark, sf_dir):
    """Web-scale connected components via alternating large-star /
    small-star (operators.graph.connected_components_star): the input
    is 8 PATH components of diameter n/8 (consecutive event_ids
    within each event_id%8 residue chain), where diameter-bound
    min-label propagation would need ~1250 rounds at sf0.01 and the
    alternating algorithm converges in about a dozen.  The graph is
    constructed so ground truth is analytic — each chain's component
    is its min id — giving the O(log n) algorithm an exact oracle
    with no recursive CTE."""
    from python_mecab_ner_spark.operators.graph import \
        connected_components_star
    ev = _load(spark, sf_dir, "events").select("event_id")
    a, b = ev.alias("a"), ev.alias("b")
    edges = (a.join(b, F.col("b.event_id") == F.col("a.event_id") + 8)
             .select(F.col("a.event_id").alias("src"),
                     F.col("b.event_id").alias("dst")))
    return (connected_components_star(edges)
            .select(F.col("id").cast("bigint").alias("id"),
                    F.col("comp").cast("bigint").alias("comp")))


MIS_ROUNDS = 8
MATCH_ROUNDS = 10   # q188: converges well inside this at both SFs
COVER_K = 5     # q193 greedy-coverage rounds, shared with the oracle
JSONL_FILES = 8   # q203: shard count, shared with the oracle
TEMPORAL_ORACLE_ROUNDS = 10  # q206: oracle unroll (7 measured at
                             # sf0.01); Spark runs TEMPORAL_BUDGET
TEMPORAL_BUDGET = 40  # q206: Spark budget (24 measured at sf0.1);
                      # post-fixpoint rounds are no-ops so the two
                      # budgets may differ — both sides stop moving
                      # at the sf0.01 fixpoint the oracle certifies
MST_ROUNDS = 10   # q197: Boruvka budget, shared with the oracle
                  # (measured 5 rounds at sf0.01, 6 at sf0.1;
                  #  ceil(log2 n) guarantees <= 15 at sf0.1 and the
                  #  operator raises rather than truncates)
PEEL_ROUNDS = 12  # q198: densest-peel budget, shared with the oracle
                  # (measured 6 rounds at sf0.01/sf0.1 incl. the ring)


def q177_mis(spark, sf_dir):
    """Deterministic Luby-style maximal independent set
    (operators.graph.maximal_independent_set) of the thin co-purchase
    graph (q173's input): md5-priority winners per round, O(log n)
    rounds regardless of diameter — the parallel seed/scheduling
    primitive.  Converges in 5 rounds at sf0.01 AND sf0.1 (measured);
    both engines run the identical 8-round budget, and the ROUND
    TRAJECTORY (who entered in which round) is part of the hash
    contract, not just the final set."""
    from python_mecab_ner_spark.operators.graph import \
        maximal_independent_set
    edges = _copurchase_pairs(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst"))
    return (maximal_independent_set(edges, max_rounds=MIS_ROUNDS)
            .select(F.col("node").cast("bigint").alias("node"),
                    F.col("mis_round").cast("int").alias("mis_round")))


def q180_semantic_decon(spark, sf_dir):
    """Embedding-level benchmark decontamination
    (operators.ann.semantic_decontaminate): the embeddings table is
    hash-split into a benchmark side (vec_id % 41 == 0) and the
    corpus; corpus vectors whose int8-exact cosine against any bench
    vector reaches 3/10 are flagged with hit count + max integer dot.
    Catches paraphrased eval leakage that an n-gram screen misses;
    threshold 0.3 because the synthetic payload is near-isotropic
    (corpus max cosine 0.455, measured)."""
    from python_mecab_ner_spark.operators.ann import \
        semantic_decontaminate
    emb = _load(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 41 == 0)
    corpus = emb.where(F.col("vec_id") % 41 != 0)
    return (semantic_decontaminate(corpus, bench, t_num=3, t_den=10)
            .select(F.col("vec_id").cast("bigint").alias("vec_id"),
                    "n_hits", "max_dot"))


def q184_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap 95% CI for the corpus mean quality score
    (operators.sample.poisson_bootstrap_ci, Chamandy et al. 2012):
    per-row deterministic Poisson(1) weights via the md5 -> CDF-ppm
    ladder, B=200 replicate means as exact integer ratios, percentile
    ranks 5/195 over the B-row dimension.  The uncertainty sheet
    published next to every corpus-quality point estimate; row-local
    by construction — THE bootstrap that survives 100 TB."""
    from python_mecab_ner_spark.operators.sample import (
        poisson_bootstrap_ci)
    d = _load(spark, sf_dir, "documents")
    vals = d.select("doc_id",
                    TX.quality_score(F.col("text")).alias("q"))
    return poisson_bootstrap_ci(vals, "q", "doc_id", n_reps=200)


def q185_wilson(spark, sf_dir):
    """Wilson lower-bound ranking of per-stratum keep rates
    (operators.sample.wilson_lower_bound, z = 2 exact-integer form
    via the q143 isqrt ladder): strata are the Zipf-like doc_id
    bit-length classes (sizes 1, 2, 4, ... — the real sources are
    deliberately uniform 20x25), success = the q39 keep rule
    (lang == 'en' AND quality >= 60).  The small-n strata get
    honestly wide intervals: raw rate would rank a 1/1 stratum above
    a 400/520 one, the Wilson bound inverts that — the
    uncertainty-aware source-ranking rule."""
    from python_mecab_ner_spark.operators.sample import (
        wilson_lower_bound)
    d = _load(spark, sf_dir, "documents")
    strata = d.select(
        F.concat(F.lit("c"),
                 F.length(F.bin(F.col("doc_id").cast("bigint")))
                 .cast("string")).alias("stratum"),
        ((TX.lang_id(F.col("text")) == "en")
         & (TX.quality_score(F.col("text")) >= 60))
        .cast("int").alias("keep"))
    return wilson_lower_bound(strata, "stratum", "keep")


# DuckDB twin of _hearst_text() below — identical injected bytes
# (the q47 synthetic-PII convention: the corpus has no Hearst
# patterns by construction, so plant deterministic ones)
def _hearst_text_sql_parts():
    def h(s, m):
        return (f"CAST({md5_int_sql('CAST(doc_id AS VARCHAR)', salt=s)}"
                f" % {m} AS VARCHAR)")
    such = (f"CASE WHEN doc_id % 7 = 0 THEN ' cat' || {h('hy:', 5)}"
            f" || ' such as item' || {h('h1:', 13)}"
            f" || ', item' || {h('h2:', 17)}"
            f" || ' and item' || {h('h3:', 19)} || '.'"
            " ELSE '' END")
    other = (f"CASE WHEN doc_id % 11 = 0 THEN ' item' || {h('o1:', 23)}"
             f" || ', item' || {h('o2:', 29)}"
             f" || ' and other cat' || {h('oy:', 5)} || '.'"
             " ELSE '' END")
    return f"(text || {such} || {other})"


# DuckDB twin of _stitch_text() below — identical injected bytes
# (the q47/q186 injection convention: the corpus has no truncated
# continuation pages by construction, so plant deterministic ones:
# every 13th doc gains a boundary 4-gram as its SUFFIX and the NEXT
# doc gains the same 4-gram as its PREFIX)
def _stitch_text_sql():
    def h(i):
        return (f"CAST({md5_int_sql('CAST(doc_id - (doc_id % 13) AS VARCHAR)', salt=f'sx{i}:')}"
                f" % 99991 AS VARCHAR)")
    gram = " || ' ' || ".join(f"'sp' || {h(i)}" for i in range(4))
    return (f"(CASE WHEN doc_id % 13 = 0 THEN text || ' ' || {gram}"
            f" WHEN doc_id % 13 = 1 THEN {gram} || ' ' || text"
            " ELSE text END)")


def _stitch_text():
    """Deterministic stitch boundaries: doc d (d%13==0) ends with a
    4-token md5-derived gram; doc d+1 starts with the SAME gram, so
    (d, d+1) is a planted suffix-prefix pair."""
    base = (F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(13))) \
        .cast("string")

    def h(i):
        return F.concat(
            F.lit("sp"),
            F.pmod(md5_int(base, salt=f"sx{i}:"),
                   F.lit(99991)).cast("string"))

    gram = F.concat_ws(" ", *[h(i) for i in range(4)])
    return (F.when(F.pmod(F.col("doc_id"), F.lit(13)) == 0,
                   F.concat(F.col("text"), F.lit(" "), gram))
            .when(F.pmod(F.col("doc_id"), F.lit(13)) == 1,
                  F.concat(gram, F.lit(" "), F.col("text")))
            .otherwise(F.col("text")))


def q192_stitch(spark, sf_dir):
    """Truncated-page reassembly (operators.crawl
    .suffix_prefix_stitch): boundary-4-gram equi-join finding pages
    whose tail continues verbatim as another page's head — planted
    deterministically (_stitch_text, every 13th doc + its successor).
    One projection for both boundary keys, one equi-join; the dedup
    family can't catch these (the halves share only the cut line)."""
    from python_mecab_ner_spark.operators.crawl import \
        suffix_prefix_stitch
    d = _load(spark, sf_dir, "documents")
    withs = d.select("doc_id", _stitch_text().alias("text"))
    return (suffix_prefix_stitch(withs, "text", "doc_id")
            .select(F.col("doc_a").cast("bigint").alias("doc_a"),
                    F.col("doc_b").cast("bigint").alias("doc_b"),
                    "boundary")
            .orderBy("doc_a", "doc_b"))


def _hearst_text():
    """Deterministic synthetic Hearst sentences appended per doc:
    every 7th doc a 'Y such as X1, X2 and X3.', every 11th an
    'X1, X2 and other Y.' — hyper/hypo terms md5-derived from small
    vocabularies so pair support aggregates meaningfully."""
    ds = F.col("doc_id").cast("string")

    def h(s, m):
        return F.pmod(md5_int(ds, salt=s), F.lit(m)).cast("string")

    such = F.when(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0,
        F.concat(F.lit(" cat"), h("hy:", 5),
                 F.lit(" such as item"), h("h1:", 13),
                 F.lit(", item"), h("h2:", 17),
                 F.lit(" and item"), h("h3:", 19),
                 F.lit("."))).otherwise(F.lit(""))
    other = F.when(
        F.pmod(F.col("doc_id"), F.lit(11)) == 0,
        F.concat(F.lit(" item"), h("o1:", 23),
                 F.lit(", item"), h("o2:", 29),
                 F.lit(" and other cat"), h("oy:", 5),
                 F.lit("."))).otherwise(F.lit(""))
    return F.concat(F.col("text"), such, other)


def q186_hearst(spark, sf_dir):
    """Hearst-pattern hypernym harvesting (operators.ontology
    .hearst_hypernyms): is-a pair support mined from 'such as' /
    'and other' lexical templates over the corpus — taxonomy
    induction straight off the text stream (Hearst 1992, the WebIsA
    recipe), complementing the co-occurrence window triple extractor
    with schema-level edges.  Patterns planted deterministically
    (_hearst_text, the q47 injection convention); extraction is one
    JVM regexp projection chain, RE2-safe so the oracle runs the
    same regex bytes."""
    from python_mecab_ner_spark.operators.ontology import (
        hearst_hypernyms)
    d = _load(spark, sf_dir, "documents")
    withh = d.select("doc_id", _hearst_text().alias("text"))
    return hearst_hypernyms(withh, "text", "doc_id")


def q188_merge_matching(spark, sf_dir):
    """Deterministic parallel maximal matching (operators.graph
    .maximal_matching) on the thin co-purchase graph (q173/q177's
    input — q177 picks independent NODES, this picks independent
    EDGES): the conflict-free merge-wave scheduler — a matching is
    exactly the largest batch of pair-merges that can commit
    concurrently without touching the same representative twice
    (kg_merge_schedule runs it on real alias pairs).  md5 edge
    priorities, local-min-at-both-endpoints winners; the ROUND
    TRAJECTORY is part of the hash contract (the q177 discipline);
    both engines run the identical round budget."""
    from python_mecab_ner_spark.operators.graph import maximal_matching
    li = _load(spark, sf_dir, "lineitem").where(F.col("l_quantity") <= 15)
    l1, l2 = li.alias("l1"), li.alias("l2")
    edges = (l1.join(l2, (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
                     & (F.col("l1.l_partkey") < F.col("l2.l_partkey")))
             .select(F.col("l1.l_partkey").alias("src"),
                     F.col("l2.l_partkey").alias("dst"))
             .distinct())
    return (maximal_matching(edges, max_rounds=MATCH_ROUNDS)
            .select(F.col("a").cast("bigint").alias("a"),
                    F.col("b").cast("bigint").alias("b"),
                    F.col("match_round").cast("int").alias("match_round")))


def q190_betweenness(spark, sf_dir):
    """Sampled bounded-radius Brandes betweenness (operators.graph
    .betweenness_sampled): integer path counts forward, per-term
    floor-div scaled dependency backward, over the symmetrized
    part<->supplier graph with a 100-part root sample at radius 3 —
    the bridge-node sheet (which nodes sit on inter-cluster shortest
    paths) complementing q40's PageRank (flow) on the same graph.
    Both sampling caps (pivots, radius) are explicit; the oracle
    unrolls the same BFS + backward recurrence level by level."""
    from python_mecab_ner_spark.operators.graph import betweenness_sampled
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    pairs = (li.select((F.col("l_partkey") * 2).alias("p"),
                       (F.col("l_suppkey") * 2 + 1).alias("s"))
             .distinct())
    edges = (pairs.select(F.col("p").alias("src"),
                          F.col("s").alias("dst"))
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("p").alias("dst"))))
    roots = (part.where(F.col("p_partkey") <= 100)
             .select((F.col("p_partkey") * 2).alias("node")))
    return (betweenness_sampled(edges, roots, radius=3)
            .select(F.col("node").cast("bigint").alias("node"),
                    "n_roots", "bw_scaled"))


def q193_coverage_selection(spark, sf_dir):
    """Greedy maximum-coverage document selection (operators.sample
    .greedy_max_coverage): the 5 documents whose token sets cover the
    most DISTINCT vocabulary, picked by the exact greedy
    (1 - 1/e)-approximation — the submodular data-selection step of
    corpus curation (an annotation or eval budget wants coverage, not
    volume; q55/q143 sample by mass, this selects by marginal gain).
    Elements are BIGRAMS over q08's tokenization: the template
    corpus's unigram vocabulary is coverable by ONE long document
    (measured — a unigram q193 dried up after round 1, leaving the
    multi-round recurrence uncertified), while the bigram universe
    keeps all 5 rounds live at both gate SFs.  The oracle unrolls
    the identical argmax-then-anti-join recurrence, so the hash
    certifies the whole selection TRAJECTORY (order + per-round
    gains), not just the final set."""
    from python_mecab_ner_spark.operators.sample import \
        greedy_max_coverage
    d = _loadp(spark, sf_dir, "documents")
    w = F.filter(F.split(F.lower(F.trim("text")), r"\s+"),
                 lambda s: s != F.lit(""))
    grams = F.when(
        F.size(w) >= 2,
        F.zip_with(F.slice(w, 1, F.size(w) - 1),
                   F.slice(w, 2, F.size(w) - 1),
                   lambda a, b: F.concat(a, F.lit(" "), b))
    ).otherwise(F.array().cast("array<string>"))
    pairs = d.select("doc_id", F.explode(grams).alias("gram"))
    return greedy_max_coverage(pairs, "doc_id", "gram", k=COVER_K)


def _template_urls():
    """Deterministic route-shaped synthetic URLs (q47 injection
    convention): four md5-chosen route classes exercising every q195
    generalization rule — numeric ids, 16-hex ids, literal segments,
    a query-string cut, and a static route."""
    ds = F.col("doc_id").cast("string")
    host = F.concat(F.lit("h"),
                    F.pmod(md5_int(ds, salt="uth:"), F.lit(5))
                    .cast("string"),
                    F.lit(".example.com"))
    r = F.pmod(md5_int(ds, salt="utr:"), F.lit(4))
    num = F.pmod(md5_int(ds, salt="utn:"),
                 F.lit(100000)).cast("string")
    hex16 = F.substring(F.md5(F.concat(F.lit("utx:"), ds)), 1, 16)
    k = F.pmod(md5_int(ds, salt="utk:"), F.lit(20)).cast("string")
    path = (F.when(r == 0, F.concat(F.lit("/post/"), num))
            .when(r == 1, F.concat(F.lit("/u/"), hex16,
                                   F.lit("/profile")))
            .when(r == 2, F.concat(F.lit("/tag/t"), k,
                                   F.lit("/page/"), num,
                                   F.lit("?session="), hex16))
            .otherwise(F.lit("/about")))
    return F.concat(F.lit("https://"), host, path)


def _template_url_sql() -> str:
    """DuckDB twin of _template_urls() — identical injected bytes."""
    ds = "CAST(doc_id AS VARCHAR)"
    host = (f"'h' || CAST({md5_int_sql(ds, salt='uth:')} % 5"
            " AS VARCHAR) || '.example.com'")
    r = f"({md5_int_sql(ds, salt='utr:')} % 4)"
    num = f"CAST({md5_int_sql(ds, salt='utn:')} % 100000 AS VARCHAR)"
    hex16 = f"substr(md5('utx:' || {ds}), 1, 16)"
    k = f"CAST({md5_int_sql(ds, salt='utk:')} % 20 AS VARCHAR)"
    path = (f"(CASE WHEN {r} = 0 THEN '/post/' || {num}"
            f" WHEN {r} = 1 THEN '/u/' || {hex16} || '/profile'"
            f" WHEN {r} = 2 THEN '/tag/t' || {k} || '/page/' || {num}"
            f" || '?session=' || {hex16}"
            " ELSE '/about' END)")
    return f"('https://' || {host} || {path})"


def q195_url_templates(spark, sf_dir):
    """URL path-template mining (operators.crawl.url_path_templates):
    per-segment generalization (all-digits -> {n}, long hex -> {h},
    RE2-safe rules shared byte-identically with the oracle) + one
    combinable (host, template) count over the injected route URLs —
    the CMS-route induction that separates content routes from
    crawler traps and keys per-route dedup/scheduling policy.
    Structural complement of q66 (which canonicalizes single URLs)."""
    from python_mecab_ner_spark.operators.crawl import \
        url_path_templates
    d = _load(spark, sf_dir, "documents")
    urls = d.select(_template_urls().alias("url"))
    return url_path_templates(urls)


def _copurchase_pairs(spark, sf_dir):
    """The thin co-purchase graph shared by q173/q177/q197/q198
    (quantity <= 15): distinct same-order part pairs a < b.  Every
    quantity-thinned co-purchase query MUST route through here — the
    inline copies this replaced desynced once already (review
    finding)."""
    li = (_load(spark, sf_dir, "lineitem")
          .where(F.col("l_quantity") <= 15))
    l1, l2 = li.alias("l1"), li.alias("l2")
    return (l1.join(l2, (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
                    & (F.col("l1.l_partkey") < F.col("l2.l_partkey")))
            .select(F.col("l1.l_partkey").alias("a"),
                    F.col("l2.l_partkey").alias("b"))
            .distinct())


def q197_boruvka_mst(spark, sf_dir):
    """Minimum spanning forest of the thin co-purchase graph via
    distributed Boruvka (operators.graph.boruvka_mst) — the
    single-linkage clustering / ER-backbone primitive, O(log n)
    rounds regardless of weights or diameter.  Edge weights are
    md5-derived in [1, 997] (md5_int, the cross-engine hash); the
    (w, a, b) zero-pad total order makes the forest UNIQUE, so the
    oracle's unrolled Boruvka (per-component min + recursive-CTE
    contraction per round) must reproduce the edge set AND the
    round trajectory — rounds past the fixpoint are no-ops under
    the shared MST_ROUNDS budget.  Converges in 5 rounds at sf0.01
    and 6 at sf0.1 (measured)."""
    from python_mecab_ner_spark.operators.graph import boruvka_mst
    pairs = _copurchase_pairs(spark, sf_dir)
    w = (F.pmod(md5_int(F.concat(F.col("a").cast("string"), F.lit("#"),
                                 F.col("b").cast("string")),
                        salt="mstw:"),
                F.lit(997)) + 1)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"),
                         w.alias("w"))
    return (boruvka_mst(edges, max_rounds=MST_ROUNDS)
            .select(F.col("a").cast("bigint").alias("a"),
                    F.col("b").cast("bigint").alias("b"),
                    F.col("w").cast("bigint").alias("w"),
                    F.col("mst_round").cast("int").alias("mst_round")))


def q198_densest(spark, sf_dir):
    """Densest-subgraph greedy peel (operators.graph
    .densest_subgraph_peel) over the co-purchase graph with a
    PLANTED 40-clique "link-exchange ring" (parts 1-40, the
    spam-farm injection convention of q47's PII text): the batched
    Charikar peel strips the sparse background in density order and
    the best (max-density) round isolates the ring — without the
    plant the random co-purchase graph is its own densest prefix
    (measured: best = round 1), which certifies nothing.  The whole
    peel TRAJECTORY (per-round node/edge counts + integer-ppm
    density + best flag) is the hash contract; both engines run the
    shared PEEL_ROUNDS budget with exact-integer thresholds."""
    from python_mecab_ner_spark.operators.graph import \
        densest_subgraph_peel
    pairs = _copurchase_pairs(spark, sf_dir)
    p = (_load(spark, sf_dir, "part").where(F.col("p_partkey") <= 40)
         .select(F.col("p_partkey").alias("k")))
    ring = (p.alias("p1").join(F.broadcast(p.alias("p2")),
                               F.col("p1.k") < F.col("p2.k"))
            .select(F.col("p1.k").alias("a"), F.col("p2.k").alias("b")))
    edges = (pairs.unionByName(ring)
             .select(F.col("a").alias("src"), F.col("b").alias("dst")))
    return (densest_subgraph_peel(edges, max_rounds=PEEL_ROUNDS)
            .select(F.col("round").cast("int").alias("round"),
                    F.col("n_nodes").cast("bigint").alias("n_nodes"),
                    F.col("n_edges").cast("bigint").alias("n_edges"),
                    F.col("density_ppm").cast("bigint")
                    .alias("density_ppm"),
                    F.col("is_best").cast("int").alias("is_best")))


def q200_pareto(spark, sf_dir):
    """2-D Pareto frontier (operators.sample.pareto_frontier) over
    (token count, integer-ppm lexical diversity): the undominated
    length-vs-diversity tradeoff set — the selection curve read when
    two curation objectives compete and a single gate (q95) would
    pick a point, not the curve.  Token arrays are materialized in
    their own projection before size/array_distinct (the HOF
    re-evaluation lesson); diversity is exact integer div; the oracle is the
    recursion-free NOT EXISTS dominance test, so the hash certifies
    the bucketed two-phase prune against brute-force dominance."""
    from python_mecab_ner_spark.operators.sample import pareto_frontier
    d = _loadp(spark, sf_dir, "documents")
    w = F.filter(F.split(F.lower(F.trim("text")), r"\s+"),
                 lambda s: s != F.lit(""))
    t = d.select("doc_id", w.alias("w"))
    m = (t.select("doc_id", F.size("w").alias("n_tokens"),
                  F.size(F.array_distinct("w")).alias("nd"))
         .where(F.col("n_tokens") > 0)
         .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                 F.col("n_tokens").cast("bigint").alias("n_tokens"),
                 F.expr("(nd * 1000000) div n_tokens").cast("bigint")
                 .alias("ldiv_ppm")))
    return pareto_frontier(m, "doc_id", "n_tokens", "ldiv_ppm")


def q202_good_turing(spark, sf_dir):
    """Good-Turing count-of-counts sheet (operators.colloc
    .good_turing) over the corpus unigram frequencies: N_r per raw
    count r and the Turing-adjusted r* = (r+1) N_{r+1}/N_r as
    integer ppm — the classical LM frequency re-estimator (Katz
    backoff's engine), companion to q80's Kneser-Ney continuation
    counts (KN smooths by context diversity, GT by the
    count-of-count curve).  The N_r table is max-frequency-sized,
    so the adjustment join costs nothing at any corpus scale."""
    from python_mecab_ner_spark.operators.colloc import good_turing
    d = _loadp(spark, sf_dir, "documents")
    w = F.filter(F.split(F.lower(F.trim("text")), r"\s+"),
                 lambda s: s != F.lit(""))
    tok = d.select(F.explode(w).alias("word"))
    counts = tok.groupBy("word").agg(F.count("*").alias("n"))
    return (good_turing(counts, "n")
            .select(F.col("r").cast("bigint").alias("r"),
                    F.col("n_types").cast("bigint").alias("n_types"),
                    F.col("gt_ppm").cast("bigint").alias("gt_ppm")))


def q203_jsonl_ledger(spark, sf_dir):
    """JSONL ingest round-trip with a corrupt-record ledger
    (sources.jsonl): the documents table is serialized into 8
    one-object-per-line shards, every 41st line (md5-chosen, the
    q47/q145 injection convention) is TRUNCATED to 20 chars, and the
    shards are parsed back through the PERMISSIVE corrupt-column
    path — no line silently dropped, the WARC-ledger discipline.
    Output is the per-shard account: good/corrupt counts, the
    id-sum of recovered rows, and a payload checksum (folded md5 of
    each recovered text), all re-derived from PARSED bytes; the
    oracle computes the same sheet straight from the table, so any
    parse drop, mis-route, or payload mutation hash-mismatches.
    JSON escaping keeps every object single-line (text newlines are
    escaped), so the shard split is exact."""
    from python_mecab_ner_spark.sources.jsonl import (CORRUPT_COL,
                                                      parse_jsonl_lines)
    d = _load(spark, sf_dir, "documents")
    line = F.to_json(F.struct("doc_id", "lang", "source", "n_chars",
                              "text"))
    bad = F.pmod(md5_int(F.col("doc_id").cast("string"), salt="jc:"),
                 F.lit(41)) == 0
    ln = d.select(
        "doc_id",
        F.when(bad, F.substring(line, 1, 20)).otherwise(line)
        .alias("line"))
    shards = (ln.groupBy(F.pmod(F.col("doc_id"), F.lit(JSONL_FILES))
                         .alias("shard"))
              .agg(F.array_join(
                  F.transform(
                      F.array_sort(F.collect_list(
                          F.struct("doc_id", "line"))),
                      lambda x: x["line"]), "\n").alias("shard_text")))
    lines = shards.select(
        "shard", F.explode(F.split("shard_text", "\n")).alias("line"))
    parsed = parse_jsonl_lines(
        lines, "doc_id bigint, lang string, source string, "
               "n_chars bigint, text string")
    ok = F.col(CORRUPT_COL).isNull()
    return (parsed.groupBy("shard")
            .agg(F.sum(F.when(ok, 1).otherwise(0)).alias("n_good"),
                 F.sum(F.when(ok, 0).otherwise(1)).alias("n_corrupt"),
                 F.sum(F.when(ok, F.col("doc_id")).otherwise(0))
                 .alias("sum_ids"),
                 F.sum(F.when(ok, md5_int(F.col("text"))
                              % F.lit(1 << 32)).otherwise(0))
                 .alias("payload_sum"))
            .select(F.col("shard").cast("bigint").alias("shard"),
                    F.col("n_good").cast("bigint").alias("n_good"),
                    F.col("n_corrupt").cast("bigint")
                    .alias("n_corrupt"),
                    F.col("sum_ids").cast("bigint").alias("sum_ids"),
                    F.col("payload_sum").cast("bigint")
                    .alias("payload_sum")))


def q206_temporal_reach(spark, sf_dir):
    """Time-respecting reachability with min arrival time
    (operators.temporal.temporal_reachability) over the event
    contact stream: consecutive events sharing a props-k channel
    link their users (lag window per channel — linear edge count),
    contact is symmetric, and seeds are users 0-4 at time 0.
    Arrival = the earliest event INDEX at which a causal
    (non-decreasing-time) contact chain from a seed reaches the
    user — who COULD know, in causal order (q49's khop ignores
    time).  Event
    ids are the integer clock (monotone with ts, measured), so no
    ntz epoch math touches the oracle (Spark converts ntz epochs
    through the session timezone).  7
    fixpoint rounds at sf0.01, 24 at sf0.1 (measured); budgets
    differ per engine because post-fixpoint rounds are no-ops."""
    from python_mecab_ner_spark.operators.temporal import \
        temporal_reachability
    ev = _load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int")
        .alias("k"))
    w = Window.partitionBy("k").orderBy("event_id")
    lagd = ev.select(
        "event_id", "user_id", F.lag("user_id").over(w).alias("pu"))
    e = (lagd.where(F.col("pu").isNotNull()
                    & (F.col("pu") != F.col("user_id")))
         .select(F.col("pu").alias("src"),
                 F.col("user_id").alias("dst"),
                 F.col("event_id").alias("t")))
    sym = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"), "t"))
    seeds = (ev.where(F.col("user_id") < 5)
             .select(F.col("user_id").alias("node")).distinct())
    return (temporal_reachability(sym, seeds,
                                  max_rounds=TEMPORAL_BUDGET)
            .select(F.col("node").cast("bigint").alias("node"),
                    F.col("arrival").cast("bigint").alias("arrival")))


def q208_scd2_history(spark, sf_dir):
    """SCD2 versioned page history (operators.crawl.scd2_merge):
    two deterministic document snapshots — snapshot 2 mutates ~1/7
    of texts, deletes ~1/11 of ids, adds ~1/13 as new ids (the q47
    injection convention) — fold into a [valid_from, valid_to)
    history via two merges on an empty base.  The temporal-table
    complement of kg_recrawl_merge's latest-wins upsert: every
    version's lifetime survives, deletions close rows instead of
    dropping them (a deletion is an EVENT the audit must see).
    The oracle derives the final history directly from the
    mutation flags, so both merge rounds' CASE logic is
    hash-certified, open rows as NULL valid_to."""
    from python_mecab_ner_spark.operators.crawl import scd2_merge
    d = _load(spark, sf_dir, "documents")
    ds = F.col("doc_id").cast("string")
    base = d.select(
        F.concat(F.lit("d:"), ds).alias("url"), "text",
        (F.pmod(md5_int(ds, salt="sc:"), F.lit(7)) == 0).alias("ch"),
        (F.pmod(md5_int(ds, salt="sd:"), F.lit(11)) == 3).alias("del"),
        (F.pmod(md5_int(ds, salt="sa:"), F.lit(13)) == 5).alias("ad"),
        F.concat(F.lit("d:"), (F.col("doc_id") + 1_000_000)
                 .cast("string")).alias("new_url"),
        F.md5(F.concat(F.lit("new:"), ds)).alias("new_fp"))
    snap1 = base.select("url", F.md5("text").alias("fp"))
    snap2 = (base.where(~F.col("del"))
             .select("url",
                     F.when(F.col("ch"),
                            F.md5(F.concat(F.col("text"),
                                           F.lit("#v2"))))
                     .otherwise(F.md5("text")).alias("fp"))
             .unionByName(base.where(F.col("ad"))
                          .select(F.col("new_url").alias("url"),
                                  F.col("new_fp").alias("fp"))))
    empty = spark.createDataFrame(
        [], "url string, fp string, valid_from bigint, valid_to bigint")
    h1 = scd2_merge(empty, snap1, t=1)
    h2 = scd2_merge(h1, snap2, t=2)
    return h2.select("url", "fp",
                     F.col("valid_from").cast("bigint")
                     .alias("valid_from"),
                     F.col("valid_to").cast("bigint").alias("valid_to"))


def q209_textrank(spark, sf_dir):
    """TextRank keyword extraction (operators.retrieval
    .textrank_keywords): weighted integer PageRank over the word
    co-occurrence graph (window 2, derived top-20-df stoplist, both
    shared with the oracle) — the iterative graph-global member of
    the term-mining family: q50 ranks bigrams by PMI; TextRank
    rewards words that co-occur with other well-connected words.
    The all-integer PR recurrence
    (pagerank_weighted_int) makes the unrolled-SQL oracle bit-exact;
    the word graph is persisted (two non-exchange-identical
    consumers per round) and released per query."""
    from python_mecab_ner_spark.operators.retrieval import (
        textrank_keywords)
    d = _loadp(spark, sf_dir, "documents")
    # n_stop=8, not the default 20: the template corpus has ~31
    # distinct tokens, so the default stoplist would leave an
    # 11-node graph (production callers keep 20+)
    out = textrank_keywords(d, "text", "doc_id", n_stop=8,
                            window=2, iters=3)
    res = out.select("word", "pr")
    res.unpersist_input = out.unpersist_input
    return res


def _textrank_oracle_sql(iters: int = 3, scale: int = 1_000_000,
                         dn: int = 85, dd: int = 100,
                         n_stop: int = 20) -> str:
    """Generated DuckDB twin of q209: the tokenization +
    derived-stoplist CTEs, lead()-window co-occurrence pairs, then
    the q68 unrolled weighted-PageRank rounds on the word graph."""
    base = (scale * (dd - dn)) // dd
    s = f"""
        WITH t AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(
                              lower(trim(text)), '\\s+'),
                              s -> s <> '') AS w
                   FROM documents),
        px AS (SELECT doc_id, w,
                      unnest(range(1, len(w) + 1)) AS pos
               FROM t),
        tok AS MATERIALIZED (
            SELECT doc_id, pos, w[pos] AS word FROM px),
        stops AS MATERIALIZED (
            SELECT word FROM (
              SELECT word, count(DISTINCT doc_id) AS df
              FROM tok GROUP BY 1)
            ORDER BY df DESC, word LIMIT {n_stop}),
        nb AS (SELECT word,
                      lead(word, 1) OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS n1,
                      lead(word, 2) OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS n2
               FROM tok),
        -- leads are computed over the FULL token sequence, stop
        -- endpoints dropped AFTER (a stopword between two keywords
        -- still separates them — the Spark twin's order of ops)
        pp AS (SELECT least(word, n1) AS a, greatest(word, n1) AS b
               FROM nb WHERE n1 IS NOT NULL AND n1 <> word
                 AND word NOT IN (SELECT word FROM stops)
                 AND n1 NOT IN (SELECT word FROM stops)
               UNION ALL
               SELECT least(word, n2), greatest(word, n2)
               FROM nb WHERE n2 IS NOT NULL AND n2 <> word
                 AND word NOT IN (SELECT word FROM stops)
                 AND n2 NOT IN (SELECT word FROM stops)),
        cooc AS MATERIALIZED (
            SELECT a, b, CAST(count(*) AS BIGINT) AS w
            FROM pp GROUP BY 1, 2),
        e AS MATERIALIZED (
            SELECT a AS src, b AS dst, w FROM cooc
            UNION ALL SELECT b, a, w FROM cooc),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        wt AS (SELECT src, sum(w) AS wt FROM e GROUP BY 1),
        pr0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr
                FROM nodes)"""
    for k in range(1, iters + 1):
        s += f""",
        m{k} AS (SELECT e.dst AS node, SUM((p.pr * e.w) // t.wt) AS m
                 FROM e JOIN pr{k - 1} p ON p.node = e.src
                 JOIN wt t ON t.src = e.src GROUP BY 1),
        pr{k} AS (SELECT n.node,
                         CAST({base} + ({dn} * coalesce(m{k}.m, 0)) // {dd}
                              AS BIGINT) AS pr
                  FROM nodes n LEFT JOIN m{k} ON m{k}.node = n.node)"""
    return s + f"""
        SELECT node AS word, pr FROM pr{iters}"""


def q210_zorder_layout(spark, sf_dir):
    """Z-order vs linear layout zone-map audit (operators.layout
    .layout_audit): events bucketized on (user_id % 64,
    epoch_day % 64), Morton-interleaved vs d2-major keys
    range-split into 64 files each, per-file min/max zone maps out.
    Where a partition-skew audit counts how much lands in each
    partition, this audits what a reader's min/max pruning can
    SKIP — under `linear` every file spans the full user domain
    (user-sliced queries read everything), under `zorder` both spans
    are bounded, so either dimension prunes.  Day buckets via
    unix_date (zone-free); all bit arithmetic 64-bit integer in both
    engines."""
    from python_mecab_ner_spark.operators.layout import layout_audit
    ev = _load(spark, sf_dir, "events")
    return layout_audit(
        ev, F.pmod(F.col("user_id"), F.lit(64)),
        F.pmod(F.unix_date(F.col("ts").cast("date")), F.lit(64)),
        bits=6, file_bits=6)


def _zorder_oracle_sql(bits: int = 6, file_bits: int = 6) -> str:
    """Generated DuckDB twin of q210: the same Morton interleave as
    layout.zorder_key, emitted as shift/mask text."""
    shift = 2 * bits - file_bits
    z = " + ".join(
        f"(((d1 >> {i}) & 1) << {2 * i + 1}) + "
        f"(((d2 >> {i}) & 1) << {2 * i})"
        for i in range(bits))
    return f"""
        WITH b AS (SELECT user_id % {1 << bits} AS d1,
                          (CAST(ts AS DATE) - DATE '1970-01-01')
                              % {1 << bits} AS d2
                   FROM events),
        k AS (SELECT d1, d2, ({z}) AS z,
                     ((d2 << {bits}) + d1) AS lin
              FROM b),
        u AS (SELECT 'zorder' AS layout, z >> {shift} AS file_id,
                     d1, d2 FROM k
              UNION ALL
              SELECT 'linear', lin >> {shift}, d1, d2 FROM k)
        SELECT layout, CAST(file_id AS BIGINT) AS file_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(d1) AS BIGINT) AS d1_min,
               CAST(max(d1) AS BIGINT) AS d1_max,
               CAST(min(d2) AS BIGINT) AS d2_min,
               CAST(max(d2) AS BIGINT) AS d2_max
        FROM u GROUP BY 1, 2"""


def q212_spam_mass(spark, sf_dir):
    """TrustRank spam mass (operators.graph.trust_spam_mass) on the
    q62 part<->supplier bipartite graph: global PageRank minus
    seed-normalized trust (seeds = supplier nodes with s_suppkey %
    20 == 1, the vetted whitelist) — high-PR low-trust nodes are
    link-spam suspects, rank earned where the whitelist cannot
    reach.  Composes the two existing integer fixed-point
    recurrences (q40's PR + q62's PPR) plus an exact-integer 1-row
    normalization fold, so the generated unrolled-SQL oracle
    certifies the full composition; the shared edge set is
    persisted once for both recurrences and released per query."""
    from python_mecab_ner_spark.operators.graph import trust_spam_mass
    li = _load(spark, sf_dir, "lineitem")
    pairs = li.select((F.col("l_partkey") * 2).alias("p"),
                      (F.col("l_suppkey") * 2 + 1).alias("s")).distinct()
    edges = (pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("p").alias("dst"))))
    seeds = [r["n"] for r in
             _load(spark, sf_dir, "supplier")
             .where(F.col("s_suppkey") % 20 == 1)
             .select((F.col("s_suppkey") * 2 + 1).alias("n")).collect()]
    out = trust_spam_mass(edges, seeds, iters=3)
    res = out.select(F.col("node").cast("bigint").alias("node"),
                     "pr", "trust_norm", "spam_ppm")
    res.unpersist_input = out.unpersist_input
    return res


def _spam_mass_oracle_sql(iters: int = 3, scale: int = 1_000_000,
                          dn: int = 85, dd: int = 100) -> str:
    """Generated DuckDB twin of q212: the q40 unrolled-PR chain and
    the q62 unrolled-PPR chain (seed set as a CTE predicate instead
    of a literal IN-list) over one shared graph, then the exact
    integer spam-mass projection."""
    base = (scale * (dd - dn)) // dd
    s = f"""
        WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
                              l_suppkey * 2 + 1 AS s FROM lineitem),
        e AS MATERIALIZED (
            SELECT p AS src, s AS dst FROM pairs
            UNION ALL SELECT s, p FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        od AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
        seeds AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier
                  WHERE s_suppkey % 20 = 1),
        pr0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr
                FROM nodes),
        t0 AS (SELECT node,
                      CAST(CASE WHEN node IN (SELECT node FROM seeds)
                           THEN {scale} ELSE 0 END AS BIGINT) AS pr
               FROM nodes)"""
    for i in range(1, iters + 1):
        s += f""",
        pm{i} AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
                  FROM e JOIN pr{i - 1} p ON p.node = e.src
                  JOIN od o ON o.src = e.src GROUP BY 1),
        pr{i} AS (SELECT n.node,
                         CAST({base}
                              + ({dn} * coalesce(pm{i}.m, 0)) // {dd}
                              AS BIGINT) AS pr
                  FROM nodes n LEFT JOIN pm{i} ON pm{i}.node = n.node),
        tm{i} AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
                  FROM e JOIN t{i - 1} p ON p.node = e.src
                  JOIN od o ON o.src = e.src GROUP BY 1),
        t{i} AS (SELECT n.node,
                        CAST(CASE WHEN n.node IN (SELECT node
                                                  FROM seeds)
                             THEN {base} ELSE 0 END
                             + ({dn} * coalesce(tm{i}.m, 0)) // {dd}
                             AS BIGINT) AS pr
                 FROM nodes n LEFT JOIN tm{i} ON tm{i}.node = n.node)"""
    return s + f"""
        , sums AS (SELECT (SELECT sum(pr) FROM pr{iters}) AS s_pr,
                          (SELECT sum(pr) FROM t{iters}) AS s_tr)
        SELECT node, pr, trust_norm,
               CAST(greatest(0, ((pr - trust_norm) * 1000000) // pr)
                    AS BIGINT) AS spam_ppm
        FROM (
          SELECT CAST(p.node AS BIGINT) AS node, p.pr,
                 CAST((coalesce(t.pr, 0) * s.s_pr) // s.s_tr
                      AS BIGINT) AS trust_norm
          FROM pr{iters} p
          LEFT JOIN t{iters} t ON t.node = p.node
          CROSS JOIN sums s)"""


def q213_rand_ari(spark, sf_dir):
    """Pair-counting clustering agreement (operators.metrics
    .pair_agreement_ppm): exact-integer Rand index + ARI of the
    sign-pattern clustering (bucket = sign bits of the first 8
    embedding dims — the 1-bit SimHash face of q18) against
    the gold labels.  The pair-weighted complement of q147's
    B-cubed: B3 weights every item, Rand weights every PAIR, so a
    shattered giant cluster that B3 forgives Rand punishes.
    Three combinable contingency aggregates + 1-row folds, no
    window, no self-join; E is floored and the ARI division is
    magnitude-then-sign (Spark div and DuckDB // both truncate —
    the convention keeps it engine-exact either way)."""
    from python_mecab_ner_spark.operators.metrics import (
        pair_agreement_ppm)
    em = _load(spark, sf_dir, "embeddings")
    bucket = sum(
        (F.shiftleft((F.element_at("embedding", i) > 0).cast("int"),
                     i - 1) for i in range(1, 9)), F.lit(0))
    a1 = em.select(F.col("vec_id").alias("item"),
                   bucket.cast("bigint").alias("cluster"),
                   F.col("label").alias("gold"))
    # 90%-pure reference clustering: every 10th item defects to the
    # next label — the high-agreement end of the scale (the sign
    # buckets sit at the chance-level end: the synthetic embeddings
    # are label-isotropic, measured, so ARI ~ 0 and the NEGATIVE
    # sign branch of the convention is exercised)
    a2 = em.select(
        F.col("vec_id").alias("item"),
        F.when(F.col("vec_id") % 10 == 0,
               (F.col("label") + 1) % 10)
        .otherwise(F.col("label")).cast("bigint").alias("cluster"),
        F.col("label").alias("gold"))
    r1 = pair_agreement_ppm(a1)
    r2 = pair_agreement_ppm(a2)
    return (r1.select(F.lit("signhash").alias("method"), "*")
            .unionByName(r2.select(F.lit("perturbed").alias("method"),
                                   "*")))


_ARI_SIGN_BUCKET_SQL = " + ".join(
    f"(CAST(embedding[{i}] > 0 AS INT) << {i - 1})"
    for i in range(1, 9))


def _ari_block_sql(method: str, assign: str) -> str:
    """One pair_agreement_ppm twin block over the assignment
    subquery `assign` (columns i, c, g), tagged with `method`."""
    return f"""
        SELECT '{method}' AS method,
               CAST(n AS BIGINT) AS n_items,
               CAST(n_clusters AS BIGINT) AS n_clusters,
               CAST(n_gold AS BIGINT) AS n_gold,
               CAST(m AS BIGINT) AS pairs_total,
               CAST(r AS BIGINT) AS pairs_same_both,
               CAST(pa AS BIGINT) AS pairs_same_pred,
               CAST(pb AS BIGINT) AS pairs_same_gold,
               CAST(((m + 2*r - pa - pb) * 1000000) // m AS BIGINT)
                   AS rand_ppm,
               CAST((CASE WHEN r - ((pa * pb) // m) >= 0 THEN 1
                          ELSE -1 END)
                    * ((abs(r - ((pa * pb) // m)) * 2000000)
                       // (pa + pb - 2 * ((pa * pb) // m)))
                    AS BIGINT) AS ari_ppm
        FROM
          (SELECT sum((x * (x - 1)) // 2) AS r FROM
           (SELECT count(*) AS x FROM ({assign}) GROUP BY c, g)),
          (SELECT sum((x * (x - 1)) // 2) AS pa,
                  count(*) AS n_clusters FROM
           (SELECT count(*) AS x FROM ({assign}) GROUP BY c)),
          (SELECT sum((x * (x - 1)) // 2) AS pb,
                  count(*) AS n_gold FROM
           (SELECT count(*) AS x FROM ({assign}) GROUP BY g)),
          (SELECT count(*) AS n,
                  (count(*) * (count(*) - 1)) // 2 AS m
           FROM ({assign}))"""


_ARI_ORACLE_SQL = (
    _ari_block_sql(
        "signhash",
        f"SELECT vec_id AS i, CAST({_ARI_SIGN_BUCKET_SQL} AS BIGINT)"
        " AS c, label AS g FROM embeddings")
    + "\n        UNION ALL\n"
    + _ari_block_sql(
        "perturbed",
        "SELECT vec_id AS i, CAST(CASE WHEN vec_id % 10 = 0"
        " THEN (label + 1) % 10 ELSE label END AS BIGINT) AS c,"
        " label AS g FROM embeddings"))


def q220_reshard(spark, sf_dir):
    """Elastic-resharding audit (operators.layout.reshard_audit):
    keys moved when the cluster grows 16 -> 17 shards under
    mod-hash vs rendezvous (HRW) placement — mod remaps ~16/17 of
    the lake, rendezvous only the ~1/17 the new shard wins; the
    packed (h << 6) | s argmax carries weight and winner in one
    n-ary greatest().  The data-placement complement of q210
    (z-order is the layout WITHIN a shard; this is which shard
    survives a resize)."""
    from python_mecab_ner_spark.operators.layout import reshard_audit
    d = _load(spark, sf_dir, "documents")
    key = F.concat(F.lit("d:"), F.col("doc_id").cast("string"))
    return (reshard_audit(d, key, n_from=16, n_to=17)
            .orderBy("method"))


def _reshard_oracle_sql(n_from: int = 16, n_to: int = 17,
                        salt: str = "shard:") -> str:
    """Generated DuckDB twin of q220 (same packed HRW argmax)."""
    key = "('d:' || CAST(doc_id AS VARCHAR))"
    h = md5_int_sql(key, bits_hex=12, salt=salt)

    def hrw(n):
        terms = ", ".join(
            "(" + md5_int_sql(f"({key} || '#{s}')", bits_hex=12,
                              salt=salt) + f" << 6) + {s}"
            for s in range(n))
        return f"(greatest({terms}) % 64)"
    return f"""
        WITH t AS (SELECT
            CASE WHEN ({h} % {n_from}) <> ({h} % {n_to})
                 THEN 1 ELSE 0 END AS mod_moved,
            CASE WHEN {hrw(n_from)} <> {hrw(n_to)}
                 THEN 1 ELSE 0 END AS hrw_moved
          FROM documents),
        a AS (SELECT count(*) AS n, sum(mod_moved) AS mm,
                     sum(hrw_moved) AS hm
              FROM t),
        u AS (SELECT 'mod' AS method, CAST(n AS BIGINT) AS n_keys,
                     CAST(mm AS BIGINT) AS moved FROM a
              UNION ALL
              SELECT 'rendezvous', CAST(n AS BIGINT),
                     CAST(hm AS BIGINT) FROM a)
        SELECT method, n_keys, moved,
               CAST((moved * 1000000) // n_keys AS BIGINT)
                   AS moved_ppm
        FROM u"""


def q223_neyman(spark, sf_dir):
    """Neyman-optimal stratified budget allocation (operators.sample
    .neyman_allocation): 1000 labeling seats split across sources
    by N_h * sigma_h of n_chars — exact via one isqrt of
    N*sum(x^2) - sum(x)^2 per stratum (the q143 ladder) and
    Hamilton largest-remainder apportionment (sum(alloc) == budget
    always, proven by test).  The variance-aware member of the
    allocation family: q55 proportional, q143 temperature, q165
    epochs, this one minimizes estimator variance per seat."""
    from python_mecab_ner_spark.operators.sample import (
        neyman_allocation)
    d = _load(spark, sf_dir, "documents")
    return (neyman_allocation(d, "source", "n_chars", budget=1000)
            .withColumnRenamed("stratum", "source"))


def _neyman_oracle_sql(budget: int = 1000) -> str:
    from python_mecab_ner_spark.operators.sample import isqrt_sql
    return f"""
        WITH g AS (SELECT source AS stratum,
                          CAST(count(*) AS BIGINT) AS n_docs,
                          CAST(sum(n_chars) AS BIGINT) AS s1,
                          CAST(sum(CAST(n_chars AS BIGINT)
                                   * n_chars) AS BIGINT) AS s2
                   FROM documents GROUP BY 1),
        w AS (SELECT stratum, n_docs,
                     {isqrt_sql('n_docs * s2 - s1 * s1')} AS w
              FROM g),
        tot AS (SELECT sum(w) AS tw FROM w),
        a AS (SELECT stratum, n_docs, w,
                     ({budget} * w) // tw AS base,
                     ({budget} * w) % tw AS rem
              FROM w CROSS JOIN tot),
        seats AS (SELECT {budget} - sum(base) AS leftover FROM a),
        r AS (SELECT *, row_number() OVER (ORDER BY rem DESC,
                                           stratum ASC) AS rk
              FROM a)
        SELECT stratum AS source, n_docs,
               CAST(w AS BIGINT) AS w_scaled,
               CAST(base + (CASE WHEN rk <= leftover
                            THEN 1 ELSE 0 END) AS BIGINT) AS alloc
        FROM r CROSS JOIN seats"""


def q228_fresh_rank(spark, sf_dir):
    """Freshness-decayed authority rank: customer->supplier order
    edges weighted by power-of-two recency decay (q92's shiftright
    discipline — weight 1024 halves per year of age, floor 1; the
    age is clamped to 30 in both engines, because Spark masks a shift
    count mod 32 and DuckDB does not), then
    the q68-certified weighted integer PageRank.  The crawl-
    scheduling composition: a host whose inlinks are ALL stale
    outranks nothing, however many there are — authority with a
    freshness prior, the signal a recrawl scheduler actually wants
    (q68 ranks by volume alone; q92 decays but does not propagate).
    Age anchors to the in-query max order date (both engines derive
    it from the same scan), epoch-day integer arithmetic (the ntz
    discipline)."""
    from python_mecab_ner_spark.operators.graph import \
        pagerank_weighted_int
    o = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    mx = o.agg(F.max(F.unix_date(F.col("o_orderdate").cast("date")))
               .alias("mx"))
    pairs = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .crossJoin(F.broadcast(mx))
             .select((F.col("o_custkey") * 2).alias("c"),
                     (F.col("l_suppkey") * 2 + 1).alias("s"),
                     F.expr("greatest(shiftright(1024, least("
                            "CAST((mx - unix_date(CAST(o_orderdate"
                            " AS DATE))) div 365 AS INT), 30)), 1)")
                     .alias("w"))
             .groupBy("c", "s").agg(F.sum("w").alias("w")))
    edges = (pairs.select(F.col("c").alias("src"),
                          F.col("s").alias("dst"), "w")
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("c").alias("dst"), "w")))
    return (pagerank_weighted_int(edges, iters=3)
            .select(F.col("node").cast("bigint").alias("node"), "pr"))


def _fresh_rank_oracle_sql(iters: int = 3, scale: int = 1_000_000,
                           dn: int = 85, dd: int = 100) -> str:
    """Generated DuckDB twin of q228: decayed-weight edge CTE + the
    q68 unrolled weighted-PR rounds."""
    base = (scale * (dd - dn)) // dd
    s = f"""
        WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)
                               - DATE '1970-01-01') AS mx
                    FROM orders),
        pairs AS (SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
                         CAST(sum(greatest(1024 >> least(CAST(
                             (mx.mx - (CAST(o_orderdate AS DATE)
                                       - DATE '1970-01-01')) // 365
                             AS INT), 30), 1)) AS BIGINT) AS w
                  FROM orders JOIN lineitem
                    ON o_orderkey = l_orderkey
                  CROSS JOIN mx
                  GROUP BY 1, 2),
        e AS (SELECT c AS src, s AS dst, w FROM pairs
              UNION ALL SELECT s, c, w FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        wt AS (SELECT src, sum(w) AS wt FROM e GROUP BY 1),
        pr0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr
                FROM nodes)"""
    for k in range(1, iters + 1):
        s += f""",
        m{k} AS (SELECT e.dst AS node, SUM((p.pr * e.w) // t.wt) AS m
                 FROM e JOIN pr{k - 1} p ON p.node = e.src
                 JOIN wt t ON t.src = e.src GROUP BY 1),
        pr{k} AS (SELECT n.node,
                         CAST({base} + ({dn} * coalesce(m{k}.m, 0)) // {dd}
                              AS BIGINT) AS pr
                  FROM nodes n LEFT JOIN m{k} ON m{k}.node = n.node)"""
    return s + f"""
        SELECT CAST(node AS BIGINT) AS node, pr FROM pr{iters}"""


def q143_mix_weights(spark, sf_dir):
    """Temperature-smoothed source mixture weights (operators.sample
    .temperature_mix_weights, tau = 1/2 as in Conneau & Lample 2019):
    natural vs smoothed per-source sampling shares plus the boost
    factor, all integer ppm via the exact-isqrt ladder — the mixture
    sheet a data loader consumes, complementing q78's cap-based
    mixing.  The testdata's real sources are deliberately uniform
    (20 x 25 docs), so the strata here are Zipf-like size classes
    (bit-length of doc_id: 1, 2, 4, ... docs) — boost_ppm genuinely
    spreads above/below 1e6 and the isqrt ladder runs on non-squares;
    production callers pass the real source column."""
    from python_mecab_ner_spark.operators.sample import (
        temperature_mix_weights)
    d = _load(spark, sf_dir, "documents")
    classes = d.select(
        F.concat(F.lit("c"),
                 F.length(F.bin(F.col("doc_id").cast("bigint")))
                 .cast("string")).alias("source"))
    return temperature_mix_weights(classes)


PACK_BUDGET = 512                         # tokens per training sequence
PACK_BUCKETS = 16


def q60_pack_sequences(spark, sf_dir):
    """Training-sequence packing (operators.pack.pack_sequences):
    GPT-style concat-and-chunk inside deterministic hash buckets —
    every doc gets its (bucket, bin, start-offset) slot in the fixed-budget
    token stream, reproducible at any cluster size.  The corpus
    assembly step between cleaning and tokenizer output."""
    from python_mecab_ner_spark.operators.pack import pack_sequences
    d = _load(spark, sf_dir, "documents")
    sized = d.select("doc_id",
                     TX.token_count(F.col("text")).alias("n_tokens"))
    return (pack_sequences(sized, "doc_id", "n_tokens",
                           budget=PACK_BUDGET, n_buckets=PACK_BUCKETS)
            .select("doc_id", F.col("bucket").cast("int").alias("bucket"),
                    "bin_id", "start_off", "spill_bins"))


PPR_SEEDS = [2, 4]   # part nodes 1 and 2 in the q40/q49 bipartite graph


def q62_ppr(spark, sf_dir):
    """Personalized PageRank (operators.graph.ppr_int): teleport mass
    restricted to a seed set — the 'entities related to X' primitive
    where global PageRank just returns hubs.  Same integer fixed-point
    arithmetic as q40, certified by the same unrolled-SQL oracle
    construction (generated, not hand-copied)."""
    from python_mecab_ner_spark.operators.graph import ppr_int
    li = _load(spark, sf_dir, "lineitem")
    pairs = li.select((F.col("l_partkey") * 2).alias("p"),
                      (F.col("l_suppkey") * 2 + 1).alias("s")).distinct()
    edges = (pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("p").alias("dst"))))
    return (ppr_int(edges, PPR_SEEDS, iters=3)
            .where(F.col("pr") > 0)
            .select(F.col("node").cast("bigint").alias("node"), "pr"))


def _ppr_sql(seeds, iters: int = 3, scale: int = 1_000_000,
             dn: int = 85, dd: int = 100) -> str:
    """Generated DuckDB twin of q62: the q40 unrolled-iteration CTE
    chain with the teleport term gated on the seed IN-list."""
    base = (scale * (dd - dn)) // dd
    inlist = ", ".join(str(int(s)) for s in seeds)
    parts = [f"""
        WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
                              l_suppkey * 2 + 1 AS s FROM lineitem),
        e AS (SELECT p AS src, s AS dst FROM pairs
              UNION ALL SELECT s, p FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT dst FROM e),
        od AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
        pr0 AS (SELECT node,
                       CAST(CASE WHEN node IN ({inlist})
                            THEN {scale} ELSE 0 END AS BIGINT) AS pr
                FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f"""
        , m{i} AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
                   FROM e JOIN pr{i - 1} p ON p.node = e.src
                   JOIN od o ON o.src = e.src GROUP BY 1)
        , pr{i} AS (SELECT n.node,
                           CAST(CASE WHEN n.node IN ({inlist})
                                THEN {base} ELSE 0 END
                                + ({dn} * coalesce(m{i}.m, 0)) // {dd}
                                AS BIGINT) AS pr
                    FROM nodes n LEFT JOIN m{i} ON m{i}.node = n.node)""")
    parts.append(f"""
        SELECT CAST(node AS BIGINT) AS node, pr FROM pr{iters}
        WHERE pr > 0""")
    return "".join(parts)


def q63_funnel(spark, sf_dir):
    """Ordered conversion funnel (view -> click -> purchase) with
    strict timestamp ordering: per user, the earliest view, the
    earliest click AFTER it, the earliest purchase after THAT — not
    the mere per-type existence a pivot would give.  Per-stage user
    counts in one row.

    Scale shape: each stage is a type-filtered scan (predicate pushed
    to parquet) + a map-side-combinable min aggregate, chained by
    equi-joins on the high-cardinality user key; AQE picks
    broadcast for the shrinking stage dims."""
    ev = _load(spark, sf_dir, "events")
    v = (ev.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min(_MINUTE(F.col("ts"))).alias("t1")))
    c = (ev.where(F.col("event_type") == "click")
         .join(v, "user_id")
         .where(_MINUTE(F.col("ts")) > F.col("t1"))
         .groupBy("user_id").agg(F.min(_MINUTE(F.col("ts"))).alias("t2")))
    p = (ev.where(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .where(_MINUTE(F.col("ts")) > F.col("t2"))
         .groupBy("user_id").agg(F.min(_MINUTE(F.col("ts"))).alias("t3")))
    return (v.agg(F.count("*").cast("bigint").alias("n_view_users"))
            .crossJoin(c.agg(F.count("*").cast("bigint")
                             .alias("n_click_users")))
            .crossJoin(p.agg(F.count("*").cast("bigint")
                             .alias("n_purchase_users"))))


def q64_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity day,
    distinct active users per (cohort_day, day_offset) — the
    engagement decay table.  Day arithmetic in integer day-of-year
    (no timezone ambiguity), distinct via one partial-aggregable
    count-distinct per cell."""
    ev = _load(spark, sf_dir, "events")
    day = F.dayofyear(F.col("ts")).cast("int")
    acts = ev.select("user_id", day.alias("day")).distinct()
    cohort = acts.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (acts.join(cohort, "user_id")
            .groupBy("cohort_day",
                     (F.col("day") - F.col("cohort_day")).alias("day_off"))
            .agg(F.count("*").cast("bigint").alias("n_users"))
            .select(F.col("cohort_day").cast("int").alias("cohort_day"),
                    F.col("day_off").cast("int").alias("day_off"),
                    "n_users"))


def q69_hash_split(spark, sf_dir):
    """Deterministic train/val/test split: content-hash bucket of the
    doc id (NOT row order — stable under re-partitioning, backfills,
    and cluster-size changes), 80/10/10 by md5 mod 10.  One narrow
    projection + one combinable aggregate; per-split doc counts, token
    mass, and quality mass are the sanity dashboard every dataset
    release ships."""
    from python_mecab_ner_spark.functions.hashing import bucket
    d = _loadp(spark, sf_dir, "documents")
    b = bucket(F.col("doc_id").cast("string"), 10, salt="split:")
    split = (F.when(b <= 7, "train").when(b == 8, "val")
             .otherwise("test"))
    return (d.select(split.alias("split"),
                     TX.token_count(F.col("text")).alias("_t"),
                     TX.quality_score(F.col("text")).alias("_q"))
            .groupBy("split")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("_t").cast("bigint").alias("sum_tokens"),
                 F.sum("_q").cast("bigint").alias("sum_quality")))


def q68_weighted_rank(spark, sf_dir):
    """Weighted integer PageRank (operators.graph.pagerank_weighted_int)
    on the part<->supplier graph with edge weight = lineitem count:
    the crawl-prioritization form of q40 — mass splits by edge weight,
    all arithmetic 64-bit integer so the unrolled-SQL oracle is
    bit-exact."""
    from python_mecab_ner_spark.operators.graph import \
        pagerank_weighted_int
    li = _load(spark, sf_dir, "lineitem")
    pairs = (li.groupBy((F.col("l_partkey") * 2).alias("p"),
                        (F.col("l_suppkey") * 2 + 1).alias("s"))
             .agg(F.count("*").cast("bigint").alias("w")))
    edges = (pairs.select(F.col("p").alias("src"),
                          F.col("s").alias("dst"), "w")
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("p").alias("dst"), "w")))
    return pagerank_weighted_int(edges, iters=3).select(
        F.col("node").cast("bigint").alias("node"), "pr")


def _wpr_oracle_sql(iters: int = 3, scale: int = 1_000_000,
                    dn: int = 85, dd: int = 100) -> str:
    """Unrolled weighted-PageRank SQL twin of q68 (same integer
    recurrence per iteration, generated instead of hand-repeated)."""
    base = (scale * (dd - dn)) // dd
    s = f"""
        WITH pairs AS (SELECT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s,
                              CAST(count(*) AS BIGINT) AS w
                       FROM lineitem GROUP BY 1, 2),
        e AS (SELECT p AS src, s AS dst, w FROM pairs
              UNION ALL SELECT s, p, w FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT dst FROM e),
        wt AS (SELECT src, sum(w) AS wt FROM e GROUP BY 1),
        pr0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr FROM nodes)"""
    for k in range(1, iters + 1):
        s += f""",
        m{k} AS (SELECT e.dst AS node, SUM((p.pr * e.w) // t.wt) AS m
                 FROM e JOIN pr{k - 1} p ON p.node = e.src
                 JOIN wt t ON t.src = e.src GROUP BY 1),
        pr{k} AS (SELECT n.node,
                         CAST({base} + ({dn} * coalesce(m{k}.m, 0)) // {dd}
                              AS BIGINT) AS pr
                  FROM nodes n LEFT JOIN m{k} ON m{k}.node = n.node)"""
    return s + f"""
        SELECT CAST(node AS BIGINT) AS node, pr FROM pr{iters}"""


def q70_communities(spark, sf_dir):
    """Label-propagation communities (operators.graph.
    label_propagation_int) on the weighted part<->supplier graph:
    deterministic synchronous LPA, packed-integer argmax tie-break —
    bit-exact vs the generated unrolled-SQL oracle."""
    from python_mecab_ner_spark.operators.graph import \
        label_propagation_int
    li = _load(spark, sf_dir, "lineitem")
    pairs = (li.groupBy((F.col("l_partkey") * 2).alias("p"),
                        (F.col("l_suppkey") * 2 + 1).alias("s"))
             .agg(F.count("*").cast("bigint").alias("w")))
    edges = (pairs.select(F.col("p").alias("src"),
                          F.col("s").alias("dst"), "w")
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("p").alias("dst"), "w")))
    return (label_propagation_int(edges, iters=2, weight="w")
            .select(F.col("node").cast("bigint").alias("node"),
                    "community"))


def _lpa_oracle_sql(iters: int = 2, id_bits: int = 44,
                    final: str | None = None) -> str:
    """Unrolled synchronous-LPA SQL twin of q70 (same packed-integer
    argmax per round, generated per iteration).  ``final`` replaces
    the default label projection with a caller-supplied SELECT over
    the chain (q154 appends the modularity computation); it may start
    with ",more CTEs" by convention of the f-string below."""
    cap = 1 << id_bits
    s = f"""
        WITH pairs AS (SELECT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s,
                              CAST(count(*) AS BIGINT) AS w
                       FROM lineitem GROUP BY 1, 2),
        e AS (SELECT p AS src, s AS dst, w FROM pairs
              UNION ALL SELECT s, p, w FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT dst FROM e),
        lab0 AS (SELECT node, CAST(node AS BIGINT) AS lab FROM nodes)"""
    for k in range(1, iters + 1):
        s += f""",
        s{k} AS (SELECT e.dst AS node, l.lab AS lab, sum(e.w) AS sw
                 FROM e JOIN lab{k - 1} l ON l.node = e.src
                 GROUP BY 1, 2),
        p{k} AS (SELECT node,
                        max(sw * {cap} + ({cap - 1} - lab)) AS mx
                 FROM s{k} GROUP BY 1),
        lab{k} AS (SELECT n.node,
                          CAST(coalesce({cap - 1} - (mx & {cap - 1}),
                                        n.lab) AS BIGINT) AS lab
                   FROM lab{k - 1} n
                   LEFT JOIN p{k} ON p{k}.node = n.node)"""
    if final is None:
        final = f"""
        SELECT CAST(node AS BIGINT) AS node, lab AS community
        FROM lab{iters}"""
    return s + final


def q78_source_mix(spark, sf_dir):
    """Deterministic source mixing (the data-mixing step of corpus
    assembly): cap every source at C expected docs (C = total /
    (2 * n_sources), pure integer arithmetic) via per-source keep
    rates applied as a content-hash threshold — rebalances head
    sources without randomness, reproducibly at any cluster size.
    One aggregate for the rate dim (broadcast back) + one hash-filter
    pass + one aggregate; all integers, exact SQL twin."""
    from python_mecab_ner_spark.functions.hashing import md5_int
    d = _loadp(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_s"))
    totals = counts.agg(F.sum("n_s").alias("total"),
                        F.count("*").alias("n_sources"))
    rates = (counts.crossJoin(F.broadcast(totals))
             .select("source", "n_s",
                     F.expr("least(CAST(10000 AS BIGINT), "
                            "(10000 * (total div (2 * n_sources))) "
                            "div n_s)").alias("rate")))
    keyed = d.select("source",
                     F.pmod(md5_int(F.col("doc_id").cast("string"),
                                    salt="mix:"), F.lit(10000))
                     .alias("h"))
    return (keyed.join(F.broadcast(rates), "source")
            .groupBy("source")
            .agg(F.max("n_s").cast("bigint").alias("n_docs"),
                 F.max("rate").cast("bigint").alias("rate"),
                 F.sum(F.when(F.col("h") < F.col("rate"), 1)
                       .otherwise(0)).cast("bigint").alias("n_kept")))


def q72_training_prep(spark, sf_dir):
    """End-to-end training-set preparation — the composition the
    whole corpus-cleaning family exists for, as ONE plan: quality
    gate (q13's scorer) -> PII redaction (q47's chain) -> overlapping
    token chunking (q67) -> deterministic hash-bucket packing into
    128-token bins (q60's arithmetic) -> per-bin occupancy.  Every
    stage is individually oracled; this query certifies the
    composition end-to-end with one more exact SQL twin."""
    from python_mecab_ner_spark.operators.pack import (chunk_documents,
                                                       pack_sequences)
    d = _loadp(spark, sf_dir, "documents")
    gated = (d.where(TX.quality_score(F.col("text")) >= 60)
             .select("doc_id", TX.pii_redact(F.col("text")).alias("text")))
    chunks = chunk_documents(gated, "text", "doc_id", size=32, stride=24)
    sized = chunks.select(
        (F.col("doc_id") * 1024 + F.col("chunk_idx")).alias("cid"),
        F.col("chunk_toks").cast("bigint").alias("n_tokens"))
    packed = pack_sequences(sized, "cid", "n_tokens",
                            budget=128, n_buckets=8)
    return (packed.groupBy(F.col("bucket").cast("int").alias("bucket"),
                           F.col("bin_id"))
            .agg(F.count("*").cast("bigint").alias("n_chunks"),
                 F.sum("n_tokens").cast("bigint").alias("sum_tokens")))


def q67_chunk_overlap(spark, sf_dir):
    """Overlapping fixed-size token chunks (32-token windows every 24
    tokens — the RAG / long-context preprocessing unit).  Per-row
    array code + one posexplode, zero shuffle, zero Python
    (operators/pack.py::chunk_documents)."""
    from python_mecab_ner_spark.operators.pack import chunk_documents
    d = _loadp(spark, sf_dir, "documents")
    return chunk_documents(d, "text", "doc_id", size=32, stride=24)


# DuckDB twin of _messy_url() below — identical bytes (the testdata
# corpus has no URL column, so q66 synthesizes deterministic messy
# URLs the same way q47 injects synthetic PII)
_MESSY_URL_SQL = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTP://' END || "
    "CASE WHEN doc_id % 3 = 0 THEN 'News.Example.COM' "
    "ELSE 'news.example.com' END || "
    "'/art/' || CAST(doc_id % 41 AS VARCHAR) || "
    "CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END || "
    "CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed' "
    "WHEN 1 THEN '?utm_a=1&utm_b=2' "
    "WHEN 2 THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) "
    "ELSE '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_c=3' END || "
    "CASE WHEN doc_id % 2 = 1 THEN '#sec' ELSE '' END)")


def _messy_url():
    did = F.col("doc_id")
    s = lambda e: e.cast("string")  # noqa: E731
    return F.concat(
        F.when(did % 2 == 0, F.lit("http://")).otherwise(F.lit("HTTP://")),
        F.when(did % 3 == 0, F.lit("News.Example.COM"))
        .otherwise(F.lit("news.example.com")),
        F.lit("/art/"), s(did % 41),
        F.when(did % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit("?utm_source=feed"))
        .when(did % 4 == 1, F.lit("?utm_a=1&utm_b=2"))
        .when(did % 4 == 2, F.concat(F.lit("?id="), s(did % 7)))
        .otherwise(F.concat(F.lit("?id="), s(did % 7), F.lit("&utm_c=3"))),
        F.when(did % 2 == 1, F.lit("#sec")).otherwise(F.lit("")))


def q66_url_canonical(spark, sf_dir):
    """Crawl-frontier URL canonicalization + URL-level dedup: lowercase
    scheme/authority, drop fragments, strip utm_* tracking params,
    collapse slash-before-query and trailing slashes, then ONE
    combinable aggregate per canonical URL (functions/text.py::
    canonical_url — pure JVM regexp chain, RE2-safe so the DuckDB twin
    is byte-identical).  At 100 TB this is the map-side-cheap dedup
    every crawl ingest runs before fetching or storing a page twice."""
    d = _loadp(spark, sf_dir, "documents")
    return (d.select("doc_id", TX.canonical_url(_messy_url()).alias("url"))
            .groupBy("url")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.min("doc_id").alias("first_doc")))


# ---- KG pipeline queries (rows-only: not SQL-expressible) -----------------

_KG_GRAPHS: dict = {}
_KG_DENSE: dict = {}


def _kg_graph(spark):
    from python_mecab_ner_spark.plans.pipeline import extract_graph
    from python_mecab_ner_spark.sources.corpus import pages_dataframe
    # memoized per session: the 5 kg_* queries share one graph build
    # (extract_graph persists its annotate stage + linking working set,
    # so rebuilding per query would stack duplicate cache entries).
    # Keyed by applicationId, NOT id(spark): CPython can reuse a GC'd
    # session's id and silently serve DataFrames bound to a stopped
    # session (same hazard class as annotate.py's broadcast cache key).
    key = spark.sparkContext.applicationId
    if key not in _KG_GRAPHS:
        # entries from other (stopped) sessions can never be served
        # again — drop the references so their pinned DataFrames are
        # collectable (their JVM-side cache died with the session)
        _KG_GRAPHS.clear()
        pages = pages_dataframe(spark, N_KG_DOCS, seed=42)
        # kb_holdout_mod=20: the canonical KB lacks ~5% of detector
        # aliases (deterministic hash holdout) — the KB-coverage-gap
        # reality that exercises the inference end of the linking ladder
        _KG_GRAPHS[key] = extract_graph(spark, pages, canonicalize=False,
                                        kb_holdout_mod=20)
    return _KG_GRAPHS[key]


def kg_triples_by_pred(spark, sf_dir):
    g = _kg_graph(spark)
    return (g["triples"].groupBy("pred")
            .agg(F.count("*").alias("n_triples")))


def kg_mentions_by_category(spark, sf_dir):
    g = _kg_graph(spark)
    return (g["mentions"].groupBy("large", "small")
            .agg(F.count("*").alias("n_mentions")))


def kg_link_levels(spark, sf_dir):
    g = _kg_graph(spark)
    return (g["linked"].groupBy("link_level")
            .agg(F.count("*").alias("n_spans")))


def kg_edges_by_pred(spark, sf_dir):
    g = _kg_graph(spark)
    return (g["edges"].groupBy("pred")
            .agg(F.count("*").alias("n_edges"),
                 F.countDistinct("src_id").alias("n_src")))


def kg_bio_by_label(spark, sf_dir):
    """BIO writeback over the kg corpus (reference L15 set_mecab_label
    via operators.bio): per-BIO-tag token counts — the shape of the
    training-data export this pipeline emits."""
    from python_mecab_ner_spark.operators.bio import bio_from_mentions
    g = _kg_graph(spark)
    out = bio_from_mentions(g["context"], g["mentions"],
                            label_col="large")
    return out.groupBy("bio").agg(F.count("*").alias("n_tokens"))


def kg_posseq_candidates(spark, sf_dir):
    """L7 POS-sequence candidate generation (reference
    get_pos_seq_category + contains()): learn the POS sequences of the
    corpus' own mentions (one aggregate, broadcast), scan every
    sentence with the compiled automaton, count candidates per
    sequence — the recall path for surfaces no gazetteer contains."""
    from python_mecab_ner_spark.operators.annotate import tokenize_pages
    from python_mecab_ner_spark.operators.posseq import (
        learn_posseq_patterns, posseq_candidates)
    g = _kg_graph(spark)
    pats = [r.pos_seq for r in
            learn_posseq_patterns(g["context"], g["mentions"],
                                  min_count=2).collect()]
    bc = spark.sparkContext.broadcast(pats)
    # the graph's annotated table carries the slim context-token struct;
    # posseq restores surfaces from token slices, so it re-tokenizes
    # with the FULL struct (tokenize-only — cheaper than annotate)
    cand = posseq_candidates(tokenize_pages(g["pages"]), bc)
    return (cand.groupBy("pos_seq")
            .agg(F.count("*").alias("n_candidates"),
                 F.countDistinct("surface").alias("n_surfaces")))


def kg_entity_rank(spark, sf_dir):
    """Entity centrality over the extracted KG: integer PageRank on
    the edges table, top-10 canonical entities — the 'which entities
    matter' query a KG consumer runs first."""
    from python_mecab_ner_spark.operators.graph import pagerank_int
    g = _kg_graph(spark)
    # localCheckpoint truncates the (deep) extraction lineage before
    # the iterative plan references it per iteration — without it the
    # unrolled loop replicates the whole linking join tree ~3x/iter
    # and planning alone exhausts the driver heap
    edges = (g["edges"].select(F.col("src_id").alias("src"),
                               F.col("dst_id").alias("dst"))
             .localCheckpoint())
    pr = pagerank_int(edges, iters=3)
    v = g["vertices"].select(F.col("entity_id").alias("node"), "canonical")
    return (pr.join(v, "node")
            .orderBy(F.col("pr").desc(), F.col("node").asc())
            .limit(10)
            .select("canonical", "pr"))


def kg_entity_khop(spark, sf_dir):
    """2-hop reach per entity over the extracted KG edges
    (operators.graph.khop_counts — the counting fast path the q49
    lineitem-graph oracle certifies): 'entities within two
    relations', the KG context-window expansion; top-10 by reach."""
    from python_mecab_ner_spark.operators.graph import khop_counts
    g = _kg_graph(spark)
    # same deep-lineage guard as kg_entity_rank: truncate the
    # extraction plan before the iterative operator references it
    edges = (g["edges"].select(F.col("src_id").alias("src"),
                               F.col("dst_id").alias("dst"))
             .localCheckpoint())
    out = khop_counts(edges, k=2)
    counts = out.withColumnRenamed("n_khop", "n_2hop")
    v = g["vertices"].select(F.col("entity_id").alias("node"), "canonical")
    res = (counts.join(v, "node")
           .orderBy(F.col("n_2hop").desc(), F.col("node").asc())
           .limit(10)
           .select("canonical",
                   F.col("n_2hop").cast("bigint").alias("n_2hop")))
    # withColumnRenamed returns a NEW DataFrame without the attribute
    # — re-attach so check_oracle's per-query release sees it (the
    # q49/q163 convention; leak flagged by round-4 advice)
    res.unpersist_input = out.unpersist_input
    return res


def kg_entity_reach(spark, sf_dir):
    """HyperBall register table over the real extracted KG edges
    (operators.graph.hyperball — the q123 lineitem-graph oracle
    certifies the kernel): per-entity radius-2 ball sketches in
    O(entities x 16) integers, the scale twin of kg_entity_khop's
    exact frontier.  Cross-checked against the exact 2-hop reach via
    hll_estimate in tests (test_pipeline_e2e)."""
    from python_mecab_ner_spark.operators.graph import hyperball
    g = _kg_graph(spark)
    edges = (g["edges"].select(F.col("src_id").alias("src"),
                               F.col("dst_id").alias("dst"))
             .localCheckpoint())
    return (hyperball(edges, iters=2, n_registers=16)
            .select(F.col("node").cast("bigint").alias("node"),
                    "bucket", "max_rho")
            .orderBy("node", "bucket"))


def kg_entity_ppr(spark, sf_dir):
    """Seed-personalized PageRank on the real extracted KG
    (operators.graph.ppr_int — the q62-certified kernel): 'entities
    related to the seed entity', the KG recommendation primitive.
    Seed = the minimum entity id appearing as an edge source
    (deterministic)."""
    from python_mecab_ner_spark.operators.graph import ppr_int
    g = _kg_graph(spark)
    edges = (g["edges"].select(F.col("src_id").alias("src"),
                               F.col("dst_id").alias("dst"))
             .localCheckpoint())
    seed = edges.agg(F.min("src")).first()[0]
    pr = ppr_int(edges, [seed], iters=3).where(F.col("pr") > 0)
    v = g["vertices"].select(F.col("entity_id").alias("node"), "canonical")
    return (pr.join(v, "node")
            .orderBy(F.col("pr").desc(), F.col("node").asc())
            .limit(10)
            .select("canonical", "pr"))


def kg_canonical_clusters(spark, sf_dir):
    """Surface-form canonicalization over the full gazetteer entity
    dimension (MinHash-LSH blocking over jamo shingles + CC): alias
    clusters of size >= 2 with their canonical surface — the
    alias-merging step of KG construction."""
    from python_mecab_ner_spark.operators.canonicalize import canonical_map
    from python_mecab_ner_spark.operators.linking import canonical_entities
    from python_mecab_ner_spark.sources.gazetteer import gazetteer_df_from_tsv
    ents = canonical_entities(gazetteer_df_from_tsv(spark))
    cm = canonical_map(ents)
    sizes = (cm.groupBy("canonical_id")
             .agg(F.count("*").alias("n_aliases"))
             .where("n_aliases >= 2"))
    canon_surface = ents.select(F.col("entity_id").alias("canonical_id"),
                                F.col("surface").alias("canonical"))
    return (sizes.join(canon_surface, "canonical_id")
            .select("canonical", "n_aliases"))


def kg_canonical_bcubed(spark, sf_dir):
    """B-cubed score of the alias canonicalization against the
    gazetteer's concept labels: item = entity, predicted cluster =
    canonical_id (MinHash-LSH + CC, kg_canonical_clusters' map), gold
    = the (large, small) concept an entity belongs to — do the alias
    clusters respect concept boundaries?  Rows-only (LSH + iterative
    CC aren't SQL-expressible); bcubed_ppm itself is hash-certified
    by q147 and the python-twin test in tests/test_metrics.py."""
    from python_mecab_ner_spark.operators.canonicalize import canonical_map
    from python_mecab_ner_spark.operators.linking import canonical_entities
    from python_mecab_ner_spark.operators.metrics import bcubed_ppm
    from python_mecab_ner_spark.sources.gazetteer import gazetteer_df_from_tsv
    ents = canonical_entities(gazetteer_df_from_tsv(spark))
    assign = (ents.join(canonical_map(ents), "entity_id")
              .select("entity_id", "canonical_id",
                      F.concat_ws("/", "large", "small").alias("concept")))
    return bcubed_ppm(assign, item="entity_id", cluster="canonical_id",
                      gold="concept")


def kg_extracted_text(spark, sf_dir):
    """The byte-identity anchor: per-url extracted text fingerprints."""
    g = _kg_graph(spark)
    return g["annotated"].select(
        "url", md5_int(F.col("extracted_text")).alias("etext_fp"))


def kg_truth_triples(spark, sf_dir):
    """Truth finding over the REAL extracted KG (operators.truth
    .adjudicate_claims on g["triples"]): the corpus genuinely emits
    conflicting (subj, pred) -> obj claims across pages (43
    conflicting pairs at the test corpus size), with the claiming
    page's HOST as the source whose trust the update round learns.
    Objects are dictionary-encoded to dense ids (tiny dim — the only
    window is over the distinct-obj dimension) and decoded back after
    adjudication.  Rows-only (the extraction isn't SQL-expressible);
    pinned by an exact pure-python recomputation in
    tests/test_corpus_ops_round3g.py."""
    from pyspark.sql import Window

    from python_mecab_ner_spark.operators.truth import adjudicate_claims
    g = _kg_graph(spark)
    t = g["triples"]
    obj_dim = (t.select("obj").distinct()
               .withColumn("val", F.row_number()
                           .over(Window.orderBy("obj")).cast("bigint")))
    claims = (t.select(
        F.regexp_extract("url", r"^https?://([^/]+)/", 1)
        .alias("source"),
        F.concat_ws("\x1f", "subj", "pred").alias("subj"), "obj")
        .join(F.broadcast(obj_dim), "obj"))
    adj = adjudicate_claims(claims)
    dec = obj_dim.select(F.col("val"), F.col("obj").alias("obj_won"))
    nai = obj_dim.select(F.col("val").alias("naive_val"),
                         F.col("obj").alias("obj_naive"))
    out = (adj.join(F.broadcast(dec), "val")
           .join(F.broadcast(nai), "naive_val"))
    res = out.select(
        F.split(F.col("subj"), "\x1f")[0].alias("subj"),
        F.split(F.col("subj"), "\x1f")[1].alias("pred"),
        F.col("obj_naive"), F.col("obj_won"),
        "n_claims", "n_vals", "support_ppm")
    res.unpersist_input = adj.unpersist_input
    return res


def kg_edge_lifespan(spark, sf_dir):
    """Temporal lifespan of the REAL extracted edges
    (operators.temporal.edge_lifespan): the corpus' warc_ts stamps
    span ~3.5 crawl days (one doc per minute), so the crawl day is a
    genuine version axis — per (src, pred, dst) edge key: first/last
    crawl day asserting it, day count, gap count, currency against
    the newest day.  Same one-groupBy shape the snapshot-stacked
    variant (temporal.lifespan_of_snapshots) runs over committed
    Iceberg-style versions."""
    from python_mecab_ner_spark.operators.temporal import edge_lifespan
    g = _kg_graph(spark)
    e = g["edges"].select(
        "src_id", "pred", "dst_id",
        F.expr("unix_timestamp(warc_ts) div 86400").alias("version"))
    return edge_lifespan(e, ["src_id", "pred", "dst_id"])


def kg_entity_salience(spark, sf_dir):
    """Lead-position salience over REAL gazetteer mentions
    (operators.profile.term_salience with char offsets as positions):
    per page the most-salient surfaced entity — mention count * 1000
    plus the bounded earliness bonus, max-then-min tie-break, over
    actual extraction offsets instead of token positions."""
    from python_mecab_ner_spark.operators.profile import term_salience
    g = _kg_graph(spark)
    return term_salience(g["mentions"], id_col="url",
                         word_col="surface", idx_col="start",
                         min_len=1, pos_cap=500)


def kg_schema_stats(spark, sf_dir):
    """PARIS functionality over the REAL extracted KG
    (operators.ontology.predicate_functionality on g["triples"]):
    the per-predicate functionality / inverse-functionality sheet of
    the corpus KG — the statistic that decides which extracted
    predicates may drive alias merges (inverse-functional) and which
    are eligible for q136-style single-value adjudication.  Rows-only
    (extraction isn't SQL-expressible); the operator itself is
    hash-certified by q140 on the synthetic typed triple table."""
    from python_mecab_ner_spark.operators.ontology import (
        predicate_functionality)
    g = _kg_graph(spark)
    return predicate_functionality(g["triples"])


def kg_html_text(spark, sf_dir):
    """WET-style text extraction from the raw html (functions/text.py
    ::html_to_text): per-url fingerprint of the extracted text — the
    step that turns a WARC crawl into the text column everything else
    consumes.  Pinned to an exact python-re reference in
    tests/test_weblinks.py."""
    from python_mecab_ner_spark.functions.text import html_to_text
    g = _kg_graph(spark)
    return g["pages"].select(
        "url",
        md5_int(html_to_text(F.col("html").cast("string")))
        .alias("wet_fp"))


def kg_entity_cooc(spark, sf_dir):
    """Entity co-occurrence profile over the REAL extracted KG:
    unordered pairs of gazetteer mention surfaces whose token starts
    sit within 20 tokens on the same page — the q96 cooccurrence
    operator applied to the mention stream instead of raw text (one
    engine primitive, two modalities).  The
    'related entities' / KG-relatedness-edge signal.  Rows-only gate;
    the kernel is DuckDB-cross-checked on the real mention table in
    tests/test_pipeline_e2e.py."""
    from python_mecab_ner_spark.operators.colloc import \
        cooccurrence_counts
    g = _kg_graph(spark)
    ctx = g["mentions"].select(
        "url", F.col("start").alias("idx"),
        F.col("surface").alias("word"))
    return (cooccurrence_counts(ctx, window=20, min_pairs=2, scale=60)
            .select(F.col("w1").alias("e1"), F.col("w2").alias("e2"),
                    "n_pairs", "w_sum"))


def kg_recrawl_merge(spark, sf_dir):
    """Recrawl upsert + change ledger (operators/crawl.py): a second
    snapshot over a half-shifted url window merges latest-per-url via
    one max_by aggregate; the status counts (added/changed/unchanged/
    carried) are the incremental work list a 100 TB recrawl pays for
    instead of the full corpus.  Pinned to exact pyref counts in
    tests/test_crawl_merge.py."""
    from python_mecab_ner_spark.operators.crawl import (merge_crawls,
                                                        recrawl_stats)
    from python_mecab_ner_spark.sources.corpus import (pages_dataframe,
                                                       recrawl_pages)
    old = pages_dataframe(spark, N_KG_DOCS, seed=42)
    new = recrawl_pages(spark, N_KG_DOCS, seed=42)
    stats = recrawl_stats(old, new)
    merged_n = (merge_crawls(old, new)
                .agg(F.count("*").cast("bigint").alias("n_urls"))
                .select(F.lit("merged_total").alias("status"), "n_urls"))
    return stats.unionByName(merged_n)


def kg_anchor_profile(spark, sf_dir):
    """Inbound anchor-text profile per target host (weblinks.
    inbound_anchor_profile): how the web describes each host —
    gazetteer-surface anchors dominate, tying the link graph back to
    the entity vocabulary.  Pinned to exact pyref (re.findall) counts
    in tests/test_weblinks.py; mention-bearing terms only (the
    navigation filler 'l0..l4' is filtered like a stopword list)."""
    from python_mecab_ner_spark.operators.weblinks import \
        inbound_anchor_profile
    g = _kg_graph(spark)
    return (inbound_anchor_profile(g["pages"])
            .where(~F.col("term").rlike(r"^l\d$")))


def kg_entity_communities(spark, sf_dir):
    """Topical entity communities over the extracted KG: deterministic
    synchronous LPA (the q70-certified operator) on the symmetrized
    edge table; output is the community size histogram.  Same
    localCheckpoint contract as kg_entity_rank."""
    from python_mecab_ner_spark.operators.graph import \
        label_propagation_int
    g = _kg_graph(spark)
    e = (g["edges"].select(F.col("src_id").alias("src"),
                           F.col("dst_id").alias("dst"))
         .localCheckpoint())
    # entity ids are 60-bit md5 ints — WIDER than the packed-argmax
    # tie-break field (id_bits=44), which would let the label term
    # cross weight-step boundaries and silently degrade LPA toward
    # min-label propagation.  Dense-relabel first: the vertex DIM is
    # small, so a one-time ordered row_number is a dimension-sized
    # sort (at 10^12 docs the entity dimension is still ~10^7; for a
    # corpus-sized node set use zipWithIndex-style relabeling).
    nodes = e.select(F.col("src").alias("node")).union(
        e.select("dst")).distinct()
    dense = nodes.select(
        "node",
        (F.row_number().over(Window.orderBy("node")) - 1)
        .cast("bigint").alias("nid"))
    d = F.broadcast(dense)
    sym0 = (e.join(d.withColumnRenamed("node", "src"), "src")
            .select(F.col("nid").alias("s"), "dst")
            .join(d.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("s").alias("src"), F.col("nid").alias("dst")))
    sym = sym0.unionByName(sym0.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
    lpa = label_propagation_int(sym, iters=2)
    return (lpa.groupBy("community")
            .agg(F.count("*").cast("bigint").alias("n_nodes"))
            .orderBy(F.col("n_nodes").desc(), F.col("community").asc())
            .limit(10))


def _kg_dense_sym(spark, min_pairs: int = 2):
    """Shared prelude of the community-family kg queries: the real
    CO-MENTION graph (unordered mention-surface pairs within 20
    tokens on a page, the kg_entity_cooc kernel), dense-relabeled
    (row_number nids — the packed-argmax id_bits precondition) and
    symmetrized with the pair count as edge weight.  The co-mention
    graph — NOT the directed subj->obj edge table — is the community
    substrate: the triple graph is near-bipartite (subjects and
    objects are mostly disjoint roles), and synchronous LPA provably
    oscillates on bipartite structure (measured: intra_w = 4 of 990,
    modularity NEGATIVE at every iteration count), while co-mention
    edges are role-free and topical.  Returns
    (sym_edges(src,dst,w), lpa_labels, n_nodes, dense) where dense is
    the (node=surface, nid) relabeling dimension.

    Memoized per session like _kg_graph: three demos (modularity,
    edge-cut, type-propagation) consume it, and every component is
    localCheckpoint'ed so reuse is a cache read, not a replay — at
    the 50k-doc scale run (scripts/bench_kg_scale.py) rebuilding the
    co-mention graph + LPA per demo would triple the dominant cost.

    min_pairs is the SUPPORT threshold and must SCALE with corpus
    size (measured, scripts/bench_kg_scale.py + BENCH_EXTRAS): at a
    FIXED entity vocabulary, doc count grows pair counts linearly, so
    a constant min_pairs=2 saturates the co-mention graph (50k docs:
    533 nodes but 103k sym edges — near-complete; LPA collapses to 2
    communities, Q ~ 0) while a corpus-proportional threshold
    (docs/200, the 400-doc demo's ratio) recovers the topical
    structure.  On a real corpus vocabulary grows with docs (Heaps,
    q169), which damps but does not remove the effect."""
    from python_mecab_ner_spark.operators.colloc import \
        cooccurrence_counts
    from python_mecab_ner_spark.operators.graph import \
        label_propagation_int
    key = (spark.sparkContext.applicationId, min_pairs)
    if key in _KG_DENSE:
        return _KG_DENSE[key]
    for stale in [k for k in _KG_DENSE if k[0] != key[0]]:
        _KG_DENSE.pop(stale, None)
    g = _kg_graph(spark)
    ctx = g["mentions"].select(
        "url", F.col("start").alias("idx"),
        F.col("surface").alias("word"))
    pairs = (cooccurrence_counts(ctx, window=20, min_pairs=min_pairs,
                                 scale=60)
             .select(F.col("w1").alias("a"), F.col("w2").alias("b"),
                     F.col("n_pairs").alias("w"))
             .localCheckpoint())
    nodes = pairs.select(F.col("a").alias("node")).union(
        pairs.select("b")).distinct()
    dense = nodes.select(
        "node",
        (F.row_number().over(Window.orderBy("node")) - 1)
        .cast("bigint").alias("nid"))
    d = F.broadcast(dense)
    e0 = (pairs.join(d.withColumnRenamed("node", "a"), "a")
          .select(F.col("nid").alias("s"), "b", "w")
          .join(d.withColumnRenamed("node", "b"), "b")
          .select(F.col("s").alias("src"), F.col("nid").alias("dst"),
                  "w"))
    sym = (e0.unionByName(e0.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst"), "w"))
           .localCheckpoint())
    # UNWEIGHTED LPA: measured at sf0.01, co-mention-count weights
    # collapse the partition into a near-giant community around the
    # head entities (Q = -0.10), while unweighted votes keep topical
    # groups separate (Q = +0.17 at iters=1, +0.08 at iters=2) —
    # weight is kept on the edges for downstream consumers, just not
    # fed to the vote.
    lpa = label_propagation_int(sym, iters=2).localCheckpoint()
    _KG_DENSE[key] = (sym, lpa, dense.count(), dense)
    return _KG_DENSE[key]


def kg_community_labels(spark, sf_dir):
    """Name the real KG communities (operators.retrieval
    .class_tfidf_from_tokens, c-TF-IDF scoring on mention-context
    tokens): for each LPA community on the co-mention graph, the
    top-5 context words around its members' mentions by c-TF-IDF —
    the label-generation step that turns an opaque community id
    into "what this cluster is about".  Terms are the 3 tokens
    either side of each mention SPAN, the span body itself excluded
    (the build_stats window discipline), class = the member
    surface's community.  At this corpus's C ~ 13 communities the
    bitlen-icf only softly suppresses Korean particles (cf=10 and
    cf=13 both floor to icf=1), so top-5 lists mix one or two
    function words with the genuinely community-specific content
    terms (pagoda-site, cat-breed, sequoia, moon clusters at
    sf0.001) — the honest small-C limit; production class counts
    (hundreds of communities) separate cleanly.  Rows-only; the
    scoring kernel's python twin is in tests/test_round5d_ops.py."""
    from python_mecab_ner_spark.operators.retrieval import (
        class_tfidf_from_tokens)
    sym, lpa, _, dense = _kg_dense_sym(spark)
    g = _kg_graph(spark)
    ent = (dense.join(lpa.withColumnRenamed("node", "nid"), "nid")
           .select(F.col("node").alias("surface"), "community"))
    m = (g["mentions"].select("url", F.col("start").alias("ms"),
                              F.col("end").alias("me"), "surface")
         .join(F.broadcast(ent), "surface"))
    ctx = g["context"].select("url", "idx", "word")
    # window = 3 tokens either side of the SPAN, excluding the whole
    # [start, end) mention body — excluding only the first token let
    # multi-token mentions label their own community with their own
    # surface words (review finding)
    tok = (m.join(ctx, "url")
           .where((F.col("idx") >= F.col("ms") - 3)
                  & (F.col("idx") < F.col("me") + 3)
                  & ((F.col("idx") < F.col("ms"))
                     | (F.col("idx") >= F.col("me"))))
           .select(F.col("community").alias("cls"),
                   F.col("word").alias("term")))
    return (class_tfidf_from_tokens(tok, k=5)
            .withColumnRenamed("cls", "community")
            .orderBy("community", "rank"))


def kg_modularity(spark, sf_dir):
    """Modularity Q of the LPA partition on the REAL co-mention
    entity graph (operators.graph.modularity_ppm, the q154-certified
    kernel): one row saying whether the communities on genuine
    extracted mention co-occurrences are structure or noise
    (unweighted graph, matching the vote)."""
    from python_mecab_ner_spark.operators.graph import modularity_ppm
    sym, lpa, _, _ = _kg_dense_sym(spark)
    return modularity_ppm(sym, lpa)


def kg_ktruss(spark, sf_dir):
    """k-truss core of the REAL co-mention entity graph (the
    q173-certified peel on the _kg_dense_sym substrate): the
    surviving edges are the entity pairs whose association is
    triangle-supported — co-mentions corroborated by a third entity
    co-mentioned with both — which is the evidence grade a KG edge
    promotion wants, versus raw pair counts that star-shaped head
    entities dominate.  Returns per-truss-edge rows
    (a, b, support)."""
    from python_mecab_ner_spark.operators.graph import ktruss
    sym, _, _, _ = _kg_dense_sym(spark)
    return (ktruss(sym, k=4, rounds=3)
            .select(F.col("a").cast("bigint").alias("a"),
                    F.col("b").cast("bigint").alias("b"), "support"))


def kg_mis_seeds(spark, sf_dir):
    """Deterministic MIS over the REAL co-mention entity graph (the
    q177-certified Luby rounds on the _kg_dense_sym substrate): the
    selected entities form a conflict-free seed set — no two seeds
    co-mentioned — which is exactly what diversity-constrained
    annotation sampling and one-hop-disjoint eval splits want (a seed
    plus its neighborhood never leaks into another seed's).  Returns
    (node, mis_round); the round trajectory is pinned by the same
    md5-priority rule the q177 oracle certifies."""
    from python_mecab_ner_spark.operators.graph import \
        maximal_independent_set
    sym, _, _, _ = _kg_dense_sym(spark)
    return (maximal_independent_set(sym, max_rounds=MIS_ROUNDS)
            .select(F.col("node").cast("bigint").alias("node"),
                    F.col("mis_round").cast("int").alias("mis_round")))


def kg_release_audit(spark, sf_dir):
    """k-anonymity / l-diversity audit (operators.profile) on the REAL
    extracted triple set before a KG release: quasi-identifiers =
    (predicate, source host) — the attributes a downstream joiner
    sees — and the OBJECT surface as the sensitive attribute.  Tiny
    (pred, host) provenance groups are re-identifiable publication
    sources; single-object groups disclose the relation even
    without row access.  The governance sheet next to the per-source
    dashboard (q105) and PII counts (q47), computed on genuine
    extraction output."""
    from python_mecab_ner_spark.operators.profile import \
        k_anonymity_audit
    g = _kg_graph(spark)
    t = g["triples"].select(
        "pred",
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        "obj")
    return k_anonymity_audit(t, ["pred", "host"], F.col("obj"))


def kg_entity_backbone(spark, sf_dir):
    """Association backbone of the REAL co-mention entity graph: the
    MAXIMUM spanning forest (boruvka_mst on inverted weights — the
    q197-certified rounds) keeps, for every entity, the strongest
    co-mention path connecting it to the rest of the graph, n-1
    edges instead of the near-complete co-mention set.  The classic
    KG visualization / navigation reduction (Chimera-style
    association backbones), and the single-linkage dual: cutting the
    backbone at a weight threshold yields exactly the
    single-linkage clusters of the co-mention similarity.  Returns
    (a, b, n_pairs, mst_round) with surfaces restored."""
    from python_mecab_ner_spark.operators.graph import boruvka_mst
    sym, _, _, dense = _kg_dense_sym(spark)
    inv = sym.select("src", "dst",
                     (F.lit(1_000_000_000) - F.col("w")).alias("w"))
    mst = boruvka_mst(inv, max_rounds=MST_ROUNDS)
    d = F.broadcast(dense)
    return (mst
            .join(d.select(F.col("nid").alias("a"),
                           F.col("node").alias("a_surface")), "a")
            .join(d.select(F.col("nid").alias("b"),
                           F.col("node").alias("b_surface")), "b")
            .select(F.col("a_surface").alias("a"),
                    F.col("b_surface").alias("b"),
                    (F.lit(1_000_000_000) - F.col("w")).cast("bigint")
                    .alias("n_pairs"),
                    F.col("mst_round").cast("int").alias("mst_round")))


def kg_edge_cut(spark, sf_dir):
    """Partition-layout audit on the REAL extracted entity graph:
    edge cut under (a) md5-hash placement, (b) dense-id range
    placement, (c) community-aligned placement (each node's partition
    = its kg_entity_communities label mod 32, remainder hash).  The
    100 TB materialization decision (which layout minimizes
    iteration-time shuffle) made on the genuine KG —
    community-aligned placement should cut materially fewer edges
    than hash, and this measures it."""
    from python_mecab_ner_spark.functions.hashing import md5_int
    sym, lpa, n_nodes, _ = _kg_dense_sym(spark)
    block = max(1, -(-n_nodes // 32))  # ceil: contiguous range blocks
    part = F.broadcast(lpa.select(
        "node", (F.col("community") % 32).alias("p")))
    with_p = (sym.join(part.withColumnRenamed("node", "src")
                       .withColumnRenamed("p", "p_src"), "src")
              .join(part.withColumnRenamed("node", "dst")
                    .withColumnRenamed("p", "p_dst"), "dst"))
    comm_cut = with_p.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.sum((F.col("p_src") != F.col("p_dst")).cast("bigint"))
        .cast("bigint").alias("cut_edges")).select(
        F.lit("community32").alias("layout"), "n_edges", "cut_edges",
        F.expr("(cut_edges * 1000000) div n_edges").cast("bigint")
        .alias("cut_ppm"))
    from python_mecab_ner_spark.operators.graph import edge_cut_audit
    layouts = {
        "hash32": lambda c: md5_int(c.cast("string"), salt="kgcut:")
        % 32,
        "range32": lambda c: (c / block).cast("bigint"),
    }
    return (edge_cut_audit(sym, layouts).unionByName(comm_cut)
            .orderBy("layout"))


def kg_entity_alignment(spark, sf_dir):
    """PARIS instance alignment on the REAL extracted KG (the
    q155-certified operators.ontology.align_entities kernel):
    snapshot B = the genuine triple statements under surrogate
    subject ids with ~30% of statements hash-dropped (the
    recrawl-with-new-ids shape), aligned back against snapshot A by
    inverse-functionality-weighted shared (pred, obj) evidence.
    Output is the one-row accuracy sheet: how many surrogate entities
    re-identified, and how many correctly (ground truth = the id
    offset)."""
    from python_mecab_ner_spark.functions.hashing import md5_int
    from python_mecab_ner_spark.operators.ontology import \
        align_entities
    g = _kg_graph(spark)
    tri = g["edges"].select(F.col("src_id").alias("subj"), "pred",
                            F.col("dst_id").alias("obj"))
    # 60-bit md5 subject ids exceed align_entities' 2^32 packed-argmax
    # cap -> dense-relabel the subject dimension first (the
    # kg_entity_communities discipline)
    subs = tri.select(F.col("subj").alias("node")).distinct()
    dense = F.broadcast(subs.select(
        "node",
        (F.row_number().over(Window.orderBy("node")) - 1)
        .cast("bigint").alias("nid")))
    a = (tri.join(dense.withColumnRenamed("node", "subj"), "subj")
         .select(F.col("nid").alias("subj"), "pred", "obj")
         .localCheckpoint())
    b = (a.withColumn(
        "_h", md5_int(F.concat_ws(
            ":", F.col("subj").cast("string"), "pred",
            F.col("obj").cast("string")), salt="kgalign:"))
        .where(F.col("_h") % 10 < 7)
        .select((F.col("subj") + 1_000_000).alias("subj"),
                "pred", "obj"))
    got = align_entities(a, b, max_df=64)
    return got.agg(
        F.count("*").cast("bigint").alias("n_aligned"),
        F.sum((F.col("entity_a") == F.col("entity_b") - 1_000_000)
              .cast("bigint")).cast("bigint").alias("n_correct")
    ).select(
        "n_aligned", "n_correct",
        F.expr("(n_correct * 1000000) div n_aligned").cast("bigint")
        .alias("acc_ppm"))


def kg_host_rank(spark, sf_dir):
    """Host authority over the extracted web link graph: weighted
    integer PageRank (mass split by link count) — the crawl-
    prioritization signal.  Same localCheckpoint-before-iterating
    contract as kg_entity_rank; exact pyref pinning in
    tests/test_weblinks.py."""
    from python_mecab_ner_spark.operators.graph import \
        pagerank_weighted_int
    from python_mecab_ner_spark.operators.weblinks import host_graph
    g = _kg_graph(spark)
    edges = (host_graph(g["pages"])
             .select(F.col("src_host").alias("src"),
                     F.col("dst_host").alias("dst"),
                     F.col("n_links").alias("w"))
             .localCheckpoint())
    return (pagerank_weighted_int(edges, iters=3)
            .orderBy(F.col("pr").desc(), F.col("node").asc())
            .select(F.col("node").alias("host"), "pr"))


def kg_host_trust(spark, sf_dir):
    """TrustRank spam mass (operators.graph.trust_spam_mass, the
    q212 composition) on the REAL extracted host graph: seeds = the
    5 hosts with the largest total out-link weight (the vetted-
    directory intuition of Gyongyi et al. — trust starts at heavily
    curating hubs), spam_ppm = the share of a host's PageRank that
    trust diffusion cannot explain.  The crawl-policy complement of
    kg_host_rank: rank says fetch first, spam mass says audit
    first.  Rows-only; the integer composition itself is
    hash-certified by q212's oracle."""
    from python_mecab_ner_spark.operators.graph import trust_spam_mass
    from python_mecab_ner_spark.operators.weblinks import host_graph
    g = _kg_graph(spark)
    hg = (host_graph(g["pages"])
          .select(F.col("src_host").alias("src"),
                  F.col("dst_host").alias("dst"), "n_links")
          .localCheckpoint())
    seeds = [r["src"] for r in
             (hg.groupBy("src").agg(F.sum("n_links").alias("w"))
              .orderBy(F.col("w").desc(), F.col("src").asc())
              .limit(5).collect())]
    out = trust_spam_mass(hg.select("src", "dst").distinct(), seeds,
                          iters=3)
    res = (out.orderBy(F.col("spam_ppm").desc(), F.col("node").asc())
           .select(F.col("node").alias("host"), "pr", "trust_norm",
                   "spam_ppm"))
    res.unpersist_input = out.unpersist_input
    return res


def kg_outlink_hosts(spark, sf_dir):
    """Host-level web link graph from the pages' html (the hyperlink
    half of a Common-Crawl page): href extraction is a pure JVM
    regexp projection + explode, the (src_host, dst_host) edge
    weights one combinable aggregate.  Pinned to the exact pyref
    (re.findall) edge counts in tests/test_weblinks.py."""
    from python_mecab_ner_spark.operators.weblinks import host_graph
    g = _kg_graph(spark)
    return host_graph(g["pages"])


def kg_host_cocitation(spark, sf_dir):
    """Host co-citation similarity on the REAL extracted web graph:
    hosts sharing in-/out-neighbors (the q58-certified wedge
    neighbor_jaccard over the host edge list) — the classic
    'related sites' signal of Dean & Henzinger, and the host-level
    alias-candidate generator (mirrors cite like their canonical).
    Rows-only gate; the operator is oracled at q58."""
    from python_mecab_ner_spark.operators.graph import neighbor_jaccard
    from python_mecab_ner_spark.operators.weblinks import host_graph
    g = _kg_graph(spark)
    hg = host_graph(g["pages"])
    edges = hg.select(F.col("src_host").alias("src"),
                      F.col("dst_host").alias("dst"))
    return (neighbor_jaccard(edges.select(
        md5_int(F.col("src")).alias("src"),
        md5_int(F.col("dst")).alias("dst")), min_common=1)
        .select("n1", "n2", "common", "jac_ppm"))


def kg_host_scc(spark, sf_dir):
    """Strongly connected components of the REAL extracted host link
    graph (the q162-certified FW-BW operator): the web's bowtie
    decomposition at host level — the giant SCC is the crawlable
    core, nodes outside it are IN/OUT/tendril hosts whose recrawl
    priority differs.  Output: SCC size histogram (size,
    n_components) plus a core-share row via the largest SCC."""
    from python_mecab_ner_spark.operators.graph import \
        strongly_connected_components
    from python_mecab_ner_spark.operators.weblinks import host_graph
    g = _kg_graph(spark)
    hg = host_graph(g["pages"])
    edges = (hg.select(md5_int(F.col("src_host")).alias("src"),
                       md5_int(F.col("dst_host")).alias("dst"))
             .localCheckpoint())
    scc = strongly_connected_components(edges, max_rounds=30)
    return (scc.groupBy("scc_id")
            .agg(F.count("*").alias("sz"))
            .groupBy("sz")
            .agg(F.count("*").cast("bigint").alias("n_components"))
            .orderBy(F.col("sz").desc())
            .select(F.col("sz").cast("bigint").alias("scc_size"),
                    "n_components"))


def kg_type_propagation(spark, sf_dir):
    """Semi-supervised type inference on the REAL KG (the
    q156-certified operators.ontology.propagate_types kernel), with a
    genuine held-out eval: seed types = modal gazetteer category of
    surfaces linked at the EXACT dictionary rungs (levels 0/1);
    propagate 2 clamped rounds over the co-mention graph; score the
    predictions against the known detector categories of surfaces
    whose links were INFERRED (levels 2-4) — the surfaces whose KB
    entries the kb_holdout removed.  One-row sheet:
    (n_eval, n_predicted, n_correct, acc_ppm)."""
    from python_mecab_ner_spark.operators.ontology import \
        propagate_types
    g = _kg_graph(spark)
    sym, _, _, dense = _kg_dense_sym(spark)
    d = F.broadcast(dense)
    lk = g["linked"].where(F.col("surface").isNotNull())
    tdim = F.broadcast(
        lk.select(F.col("large").alias("ty")).distinct()
        .select("ty", (F.row_number().over(Window.orderBy("ty")) - 1)
                .cast("bigint").alias("tid")))

    def modal_type(mentions):
        # modal category per surface, ties -> smaller tid (packed max)
        cnt = (mentions.join(tdim, mentions["large"] == tdim["ty"])
               .groupBy("surface", "tid")
               .agg(F.count("*").alias("c")))
        cap = 1 << 20
        return (cnt.groupBy("surface")
                .agg(F.max(F.col("c") * F.lit(cap)
                           + (F.lit(cap - 1) - F.col("tid")))
                     .alias("_p"))
                .select("surface",
                        (F.lit(cap - 1)
                         - F.col("_p").bitwiseAND(F.lit(cap - 1)))
                        .cast("bigint").alias("tid")))
    seed_sf = modal_type(lk.where(F.col("link_level") <= 1)) \
        .localCheckpoint()
    eval_sf = (modal_type(lk.where(F.col("link_level").isin(2, 3, 4)))
               .join(seed_sf.select("surface"), "surface", "left_anti")
               .localCheckpoint())
    seeds = (seed_sf.join(d.withColumnRenamed("node", "surface"),
                          "surface")
             .select(F.col("nid").alias("node"),
                     F.col("tid").alias("type_id")))
    pred = propagate_types(sym.drop("w"), seeds, iters=2)
    ev = (eval_sf.join(d.withColumnRenamed("node", "surface"),
                       "surface")
          .select(F.col("nid").alias("node"),
                  F.col("tid").alias("gold")))
    joined = ev.join(pred, "node", "left")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.sum(F.col("type_id").isNotNull().cast("bigint"))
        .cast("bigint").alias("n_predicted"),
        F.sum((F.col("type_id") == F.col("gold")).cast("bigint"))
        .cast("bigint").alias("n_correct")
    ).select(
        "n_eval", "n_predicted", "n_correct",
        F.when(F.col("n_predicted") > 0,
               F.expr("(n_correct * 1000000) div n_predicted"))
        .otherwise(F.lit(0)).cast("bigint").alias("acc_ppm"))


def kg_alias_candidates(spark, sf_dir):
    """SymSpell edit-distance-1 alias candidates over the REAL
    extracted mention surfaces (the kernel that
    tests/test_graph_ontology_round4.py checks against a python twin,
    at syllable granularity) — one-syllable variants of the same
    entity surface, the cheap complement to the jamo-shingle MinHash
    blocking that kg_canonical_clusters runs (symmetric deletion
    catches the adjacent single-slip pairs LSH banding can miss at
    short lengths).  Rows-only; output sorted pairs."""
    from python_mecab_ner_spark.operators.retrieval import \
        symspell_alias_pairs
    g = _kg_graph(spark)
    surf = g["mentions"].select(F.col("surface").alias("term"))
    return (symspell_alias_pairs(surf)
            .orderBy("term_a", "term_b"))


def kg_entity_betweenness(spark, sf_dir):
    """Bridge entities of the REAL co-mention graph (the
    q190-certified betweenness_sampled on the _kg_dense_sym
    substrate): entities that sit on inter-community shortest paths
    — the KG's connector surfaces, which PageRank (volume) and
    degree (locality) both miss.  Roots = the 32 lowest dense ids
    (deterministic pivot sample); radius 3.  Rows-only; top
    bw_scaled first, packed tie-break by node id via ORDER BY."""
    from python_mecab_ner_spark.operators.graph import \
        betweenness_sampled
    sym, _, _, dense = _kg_dense_sym(spark)
    roots = (dense.select(F.col("nid").alias("node"))
             .where(F.col("node") < 32))   # nids are 0-based: 0..31
    bw = betweenness_sampled(
        sym.select(F.col("src"), F.col("dst")), roots, radius=3)
    return (bw.join(dense.select(F.col("nid").alias("node"),
                                 F.col("node").alias("surface")),
                    "node")
            .select("surface", "n_roots", "bw_scaled")
            .orderBy(F.col("bw_scaled").desc(), "surface"))


def kg_merge_schedule(spark, sf_dir):
    """Conflict-free ER merge wave schedule on the REAL KG (the
    q188-certified maximal_matching): the SymSpell alias-candidate
    pairs (kg_alias_candidates) are merge candidates between cluster
    representatives; a maximal matching is exactly the largest batch
    of pair-merges that can commit in ONE wave without touching the
    same surface twice, and match_round is the wave number for the
    rest.  Rows-only; the matching kernel itself is hash-certified
    by the q188 oracle."""
    from python_mecab_ner_spark.operators.graph import maximal_matching
    from python_mecab_ner_spark.operators.retrieval import \
        symspell_alias_pairs
    g = _kg_graph(spark)
    surf = g["mentions"].select(F.col("surface").alias("term"))
    pairs = symspell_alias_pairs(surf).select(
        F.col("term_a").alias("src"), F.col("term_b").alias("dst"))
    return (maximal_matching(pairs, max_rounds=MATCH_ROUNDS)
            .select(F.col("a").alias("term_a"),
                    F.col("b").alias("term_b"),
                    F.col("match_round").cast("int").alias("match_round"))
            .orderBy("term_a", "term_b"))


def kg_coverage_docs(spark, sf_dir):
    """Annotation-budget page selection on the REAL KG (the
    q193-certified greedy_max_coverage): the 8 pages whose gazetteer
    mention sets cover the most DISTINCT entity surfaces — what a
    curation loop sends to labelers first.  Items are the numeric
    page ids embedded in the corpus urls (corpus.py:173).  Rows-only;
    the selection kernel is hash-certified by the q193 oracle."""
    from python_mecab_ner_spark.operators.sample import \
        greedy_max_coverage
    g = _kg_graph(spark)
    pairs = g["mentions"].select(
        F.regexp_extract("url", r"/([0-9]{8})$", 1).cast("bigint")
        .alias("page"),
        F.col("surface"))
    return greedy_max_coverage(pairs, "page", "surface", k=8)


# The grading driver's CORRECTNESS snapshot records only the FIRST 50
# queries() entries (README: snapshot cap).  Insertion order therefore
# decides which operator families get the externally-computed hard
# signal: the 50 below span core SQL, NER/linking, text quality,
# dedup, ANN, graph, ontology, retrieval, sampling, monitoring,
# crawl/web, and kg rows-only (round-4 verdict task 2).  The full
# suite is unchanged — check_oracle.py runs all entries regardless of
# order.
_SNAPSHOT_FIRST_50 = [
    # core SQL
    "q01_pricing_summary", "q02_region_revenue", "q04_event_islands",
    "q05_nearest_click", "q08_word_freq", "q09_neighbor_window",
    # NER / linking / disambiguation
    "q19_mention_firstpos", "q33_neighbor_stats", "q34_context_argmax",
    "q36_bio_export", "q44_evidence_scores",
    # text quality / cleaning
    "q12_lang_id", "q13_quality_score", "q47_pii_redact",
    "q139_c4_line_rules",
    # dedup / blocking family
    "q16_jaccard_pairs", "q17_lsh_pairs", "q18_simhash",
    "q48_line_dedup", "q54_window_dedup", "q171_sorted_neighborhood",
    "q43_dup_argmax",
    # ANN / embeddings
    "q20_ann_bruteforce", "q21_ann_lsh", "q180_semantic_decon",
    # graph
    "q40_pagerank", "q49_khop", "q154_modularity", "q161_wl_classes",
    "q162_scc", "q173_ktruss", "q176_star_cc", "q177_mis", "q198_densest",
    # ontology / schema induction
    "q140_pred_functionality", "q141_domain_range",
    "q142_inverse_preds", "q155_entity_alignment",
    # retrieval
    "q209_textrank",
    # sampling / selection
    "q193_coverage_selection",
    # monitoring / profiling
    "q148_encoding_audit", "q149_ngram_diversity", "q169_heaps_law",
    # crawl / web
    "q66_url_canonical", "q145_warc_roundtrip", "q195_url_templates",
    "q203_jsonl_ledger",
    # real-KG rows-only
    "kg_link_levels", "kg_triples_by_pred", "kg_host_scc",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    full = _queries_all()
    out = {k: full[k] for k in _SNAPSHOT_FIRST_50}
    out.update((k, v) for k, v in full.items() if k not in out)
    return out


def _queries_all() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_region_revenue": q02_region_revenue,
        "q03_topk_per_group": q03_topk_per_group,
        "q04_event_islands": q04_event_islands,
        "q05_nearest_click": q05_nearest_click,
        "q06_semi_join": q06_semi_join,
        "q07_anti_join": q07_anti_join,
        "q08_word_freq": q08_word_freq,
        "q09_neighbor_window": q09_neighbor_window,
        "q11_token_count": q11_token_count,
        "q12_lang_id": q12_lang_id,
        "q13_quality_score": q13_quality_score,
        "q14_fingerprint": q14_fingerprint,
        "q16_jaccard_pairs": q16_jaccard_pairs,
        "q17_lsh_pairs": q17_lsh_pairs,
        "q18_simhash": q18_simhash,
        "q19_mention_firstpos": q19_mention_firstpos,
        "q20_ann_bruteforce": q20_ann_bruteforce,
        "q21_ann_lsh": q21_ann_lsh,
        "q22_salt_distribution": q22_salt_distribution,
        "q30_rollup": q30_rollup,
        "q31_asof_join": q31_asof_join,
        "q32_trailing_window": q32_trailing_window,
        "q33_neighbor_stats": q33_neighbor_stats,
        "q34_context_argmax": q34_context_argmax,
        "q35_regex_entities": q35_regex_entities,
        "q36_bio_export": q36_bio_export,
        "q37_klue_ner": q37_klue_ner,
        "q38_tfidf_topk": q38_tfidf_topk,
        "q39_clean_corpus": q39_clean_corpus,
        "q40_pagerank": q40_pagerank,
        "q43_dup_argmax": q43_dup_argmax,
        "q44_evidence_scores": q44_evidence_scores,
        "q45_repetition_ppm": q45_repetition_ppm,
        "q47_pii_redact": q47_pii_redact,
        "q48_line_dedup": q48_line_dedup,
        "q49_khop": q49_khop,
        "q50_bigram_pmi": q50_bigram_pmi,
        "q53_surprisal": q53_surprisal,
        "q54_window_dedup": q54_window_dedup,
        "q55_stratified_sample": q55_stratified_sample,
        "q56_quality_gate": q56_quality_gate,
        "q58_neighbor_jaccard": q58_neighbor_jaccard,
        "q60_pack_sequences": q60_pack_sequences,
        "q62_ppr": q62_ppr,
        "q63_funnel": q63_funnel,
        "q64_cohort_retention": q64_cohort_retention,
        "q66_url_canonical": q66_url_canonical,
        "q67_chunk_overlap": q67_chunk_overlap,
        "q68_weighted_rank": q68_weighted_rank,
        "q69_hash_split": q69_hash_split,
        "q70_communities": q70_communities,
        "q72_training_prep": q72_training_prep,
        "q78_source_mix": q78_source_mix,
        "q80_kn_continuation": q80_kn_continuation,
        "q81_crawl_budget": q81_crawl_budget,
        "q83_fuzzy_alias": q83_fuzzy_alias,
        "q84_importance_weights": q84_importance_weights,
        "q92_recency_decay": q92_recency_decay,
        "q95_quality_hist_gate": q95_quality_hist_gate,
        "q96_cooccurrence": q96_cooccurrence,
        "q99_degree_histogram": q99_degree_histogram,
        "q105_source_risk": q105_source_risk,
        "q106_source_overlap": q106_source_overlap,
        "q107_next_word": q107_next_word,
        "q108_eval_sample": q108_eval_sample,
        "q113_normalize": q113_normalize,
        "q116_weighted_sample": q116_weighted_sample,
        "q117_script_mix": q117_script_mix,
        "q121_blocklist": q121_blocklist,
        "q123_hyperball": q123_hyperball,
        "q129_robots_gate": q129_robots_gate,
        "q133_fetch_rounds": q133_fetch_rounds,
        "q135_recrawl_schedule": q135_recrawl_schedule,
        "q136_truth_finding": q136_truth_finding,
        "q139_c4_line_rules": q139_c4_line_rules,
        "q140_pred_functionality": q140_pred_functionality,
        "q141_domain_range": q141_domain_range,
        "q142_inverse_preds": q142_inverse_preds,
        "q143_mix_weights": q143_mix_weights,
        "q145_warc_roundtrip": q145_warc_roundtrip,
        "q147_bcubed_eval": q147_bcubed_eval,
        "q148_encoding_audit": q148_encoding_audit,
        "q149_ngram_diversity": q149_ngram_diversity,
        "q150_rule_mining": q150_rule_mining,
        "q151_edge_lifespan": q151_edge_lifespan,
        "q154_modularity": q154_modularity,
        "q155_entity_alignment": q155_entity_alignment,
        "q156_type_propagation": q156_type_propagation,
        "q157_edge_cut": q157_edge_cut,
        "q159_warm_pagerank": q159_warm_pagerank,
        "q160_contrastive_pairs": q160_contrastive_pairs,
        "q161_wl_classes": q161_wl_classes,
        "q162_scc": q162_scc,
        "q163_itemsets": q163_itemsets,
        "q164_graph_contraction": q164_graph_contraction,
        "q165_epoch_allocation": q165_epoch_allocation,
        "q169_heaps_law": q169_heaps_law,
        "q171_sorted_neighborhood": q171_sorted_neighborhood,
        "q173_ktruss": q173_ktruss,
        "q176_star_cc": q176_star_cc,
        "q177_mis": q177_mis,
        "q180_semantic_decon": q180_semantic_decon,
        "q184_bootstrap_ci": q184_bootstrap_ci,
        "q185_wilson": q185_wilson,
        "q186_hearst": q186_hearst,
        "q192_stitch": q192_stitch,
        "q188_merge_matching": q188_merge_matching,
        "q190_betweenness": q190_betweenness,
        "q193_coverage_selection": q193_coverage_selection,
        "q195_url_templates": q195_url_templates,
        "q197_boruvka_mst": q197_boruvka_mst,
        "q198_densest": q198_densest,
        "q200_pareto": q200_pareto,
        "q202_good_turing": q202_good_turing,
        "q203_jsonl_ledger": q203_jsonl_ledger,
        "q206_temporal_reach": q206_temporal_reach,
        "q208_scd2_history": q208_scd2_history,
        "q209_textrank": q209_textrank,
        "q210_zorder_layout": q210_zorder_layout,
        "q212_spam_mass": q212_spam_mass,
        "q213_rand_ari": q213_rand_ari,
        "q220_reshard": q220_reshard,
        "q223_neyman": q223_neyman,
        "q228_fresh_rank": q228_fresh_rank,
        "kg_triples_by_pred": kg_triples_by_pred,
        "kg_modularity": kg_modularity,
        "kg_edge_cut": kg_edge_cut,
        "kg_ktruss": kg_ktruss,
        "kg_mis_seeds": kg_mis_seeds,
        "kg_entity_backbone": kg_entity_backbone,
        "kg_release_audit": kg_release_audit,
        "kg_entity_alignment": kg_entity_alignment,
        "kg_host_scc": kg_host_scc,
        "kg_type_propagation": kg_type_propagation,
        "kg_alias_candidates": kg_alias_candidates,
        "kg_merge_schedule": kg_merge_schedule,
        "kg_coverage_docs": kg_coverage_docs,
        "kg_entity_betweenness": kg_entity_betweenness,
        "kg_schema_stats": kg_schema_stats,
        "kg_mentions_by_category": kg_mentions_by_category,
        "kg_link_levels": kg_link_levels,
        "kg_edges_by_pred": kg_edges_by_pred,
        "kg_bio_by_label": kg_bio_by_label,
        "kg_posseq_candidates": kg_posseq_candidates,
        "kg_entity_rank": kg_entity_rank,
        "kg_entity_khop": kg_entity_khop,
        "kg_entity_reach": kg_entity_reach,
        "kg_entity_ppr": kg_entity_ppr,
        "kg_canonical_clusters": kg_canonical_clusters,
        "kg_canonical_bcubed": kg_canonical_bcubed,
        "kg_extracted_text": kg_extracted_text,
        "kg_outlink_hosts": kg_outlink_hosts,
        "kg_host_rank": kg_host_rank,
        "kg_host_trust": kg_host_trust,
        "kg_community_labels": kg_community_labels,
        "kg_entity_communities": kg_entity_communities,
        "kg_anchor_profile": kg_anchor_profile,
        "kg_recrawl_merge": kg_recrawl_merge,
        "kg_entity_cooc": kg_entity_cooc,
        "kg_host_cocitation": kg_host_cocitation,
        "kg_html_text": kg_html_text,
        "kg_truth_triples": kg_truth_triples,
        "kg_edge_lifespan": kg_edge_lifespan,
        "kg_entity_salience": kg_entity_salience,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    cents = _CENTS_SQL
    minute = _MINUTE_SQL

    tok_sql = TX.token_count_sql("text")
    lang_sql = TX.lang_id_sql("text")
    qual_sql = TX.quality_score_sql("text")
    fp_sql = TX.fingerprint_sql("text")

    # q184: Poisson(1) weight ladder (twin of operators.sample
    # .poisson_bootstrap_ci — same salt, same '#' joiner, same ppm
    # CDF literals)
    from python_mecab_ner_spark.operators.sample import (
        POISSON1_CDF_PPM, isqrt_sql as _isqrt_sql)
    _boot_u = md5_int_sql(
        "CAST(doc_id AS VARCHAR) || '#' || CAST(r AS VARCHAR)",
        salt="boot:")
    _boot_w = "(" + " + ".join(
        f"CASE WHEN {_boot_u} % 1000000 >= {t} THEN 1 ELSE 0 END"
        for t in POISSON1_CDF_PPM) + ")"

    # q185: z=2 Wilson lower bound — shared isqrt ladder
    _wilson_root = _isqrt_sql(
        "n_docs * (n_pos * (n_docs - n_pos) + n_docs)")

    # q186: Hearst injection twin + the shared pattern literals
    from python_mecab_ner_spark.operators.ontology import (
        HEARST_LIST_SPLIT, HEARST_PATTERNS)
    _hearst_sql = _hearst_text_sql_parts()
    _stitch_sql = _stitch_text_sql()
    _HEARST_P1 = HEARST_PATTERNS[0][1]
    _HEARST_P2 = HEARST_PATTERNS[1][1]
    _HEARST_SPLIT = HEARST_LIST_SPLIT

    # shared shingle CTE (matches operators.dedup.shingles semantics:
    # indices 0..max(n-k, 0), shingle = k words or the remainder tail)
    def _shingle_cte(k: int) -> str:
        return f"""
        WITH t AS (
          SELECT doc_id,
                 regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
          FROM documents
        ),
        idx AS (
          SELECT doc_id, w, unnest(range(0, greatest(len(w) - {k}, 0) + 1)) AS i
          FROM t
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 array_to_string(w[i + 1 : least(i + {k}, len(w))], ' ') AS shingle
          FROM idx
          WHERE array_to_string(w[i + 1 : least(i + {k}, len(w))], ' ') <> ''
        )
    """

    shingle_cte = _shingle_cte(3)

    # HyperBall unrolled rounds (q123): r0 = own-id register, each
    # round = elementwise max with out-neighbors' previous round.
    # CTEs MUST be MATERIALIZED — each round references the previous
    # twice (own arm + join arm), inlining explodes 2^iters.
    _hb_shift = HYPERBALL_REGS.bit_length() - 1
    _hb_rho0 = 60 - _hb_shift + 1
    _hb_h = md5_int_sql("CAST(node AS VARCHAR)", salt="hb:")
    _hb = [f"""
        WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
                                       l_suppkey * 2 + 1 AS s
                       FROM lineitem),
        edges AS (SELECT p AS src, s AS dst FROM pairs
                  UNION ALL SELECT s, p FROM pairs),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        r0 AS MATERIALIZED (
          SELECT node,
                 CAST(h & {HYPERBALL_REGS - 1} AS INT) AS bucket,
                 CAST(CASE WHEN (h >> {_hb_shift}) > 0
                      THEN {_hb_rho0} - length(bin(h >> {_hb_shift}))
                      ELSE {_hb_rho0} END AS INT) AS max_rho
          FROM (SELECT node, {_hb_h} AS h FROM nodes))
    """]
    for _t in range(1, HYPERBALL_ITERS + 1):
        _hb.append(f"""
        , r{_t} AS MATERIALIZED (
          SELECT node, bucket, max(max_rho) AS max_rho FROM (
            SELECT node, bucket, max_rho FROM r{_t - 1}
            UNION ALL
            SELECT e.src AS node, r.bucket, r.max_rho
            FROM edges e JOIN r{_t - 1} r ON r.node = e.dst)
          GROUP BY 1, 2)
        """)
    _hb.append(f"""
        SELECT CAST(node AS BIGINT) AS node, bucket, max_rho
        FROM r{HYPERBALL_ITERS}
    """)
    hyperball_sql = "".join(_hb)

    # k-truss unrolled peel rounds (q173): per round, naive x<y<z
    # triangle enumeration over the surviving canonical edge set
    # (orientation independence is what the hash match certifies),
    # per-edge support via the three sides, filter support >= k-2.
    # CTEs MUST be MATERIALIZED — each round's edge set feeds three
    # self-join arms AND the next round (inlining explodes 3^rounds).
    _kt = [f"""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l2.l_orderkey = l1.l_orderkey
           AND l1.l_partkey < l2.l_partkey
          WHERE l1.l_quantity <= 15 AND l2.l_quantity <= 15)
    """]
    for _r in range(KTRUSS_ROUNDS + 1):
        _kt.append(f"""
        , t{_r} AS MATERIALIZED (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e{_r} e1
          JOIN e{_r} e2 ON e2.a = e1.a AND e2.b > e1.b
          JOIN e{_r} e3 ON e3.a = e1.b AND e3.b = e2.b)
        , s{_r} AS MATERIALIZED (
          SELECT a, b, count(*) AS sup FROM (
            SELECT x AS a, y AS b FROM t{_r}
            UNION ALL SELECT x AS a, z AS b FROM t{_r}
            UNION ALL SELECT y AS a, z AS b FROM t{_r})
          GROUP BY 1, 2)
        """)
        if _r < KTRUSS_ROUNDS:
            _kt.append(f"""
        , e{_r + 1} AS MATERIALIZED (
          SELECT e.a, e.b FROM e{_r} e
          JOIN s{_r} s ON s.a = e.a AND s.b = e.b
           AND s.sup >= {KTRUSS_K - 2})
        """)
    _kt.append(f"""
        SELECT CAST(e.a AS BIGINT) AS a, CAST(e.b AS BIGINT) AS b,
               CAST(coalesce(s.sup, 0) AS BIGINT) AS support
        FROM e{KTRUSS_ROUNDS} e
        LEFT JOIN s{KTRUSS_ROUNDS} s ON s.a = e.a AND s.b = e.b
    """)
    ktruss_sql = "".join(_kt)

    # q177 deterministic Luby MIS, unrolled rounds (converges in 5 at
    # sf0.01/sf0.1; both engines run the same 8-round budget, rounds
    # past the fixpoint are empty no-ops).  CTEs MUST be MATERIALIZED
    # — each round's active set feeds the edge restriction twice, the
    # winner anti-join, and the next round.
    _mis = ["""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l2.l_orderkey = l1.l_orderkey
           AND l1.l_partkey < l2.l_partkey
          WHERE l1.l_quantity <= 15 AND l2.l_quantity <= 15),
        sym AS MATERIALIZED (
          SELECT a AS u, b AS v FROM e0
          UNION ALL SELECT b AS u, a AS v FROM e0),
        a0 AS MATERIALIZED (
          SELECT u AS node,
                 md5(CAST(u AS VARCHAR)) || '#' || CAST(u AS VARCHAR)
                     AS pri
          FROM (SELECT DISTINCT u FROM sym))
    """]
    for _r in range(1, MIS_ROUNDS + 1):
        _mis.append(f"""
        , er{_r} AS MATERIALIZED (
          SELECT s.u, s.v, av.pri AS pri_v
          FROM sym s JOIN a{_r - 1} au ON au.node = s.u
          JOIN a{_r - 1} av ON av.node = s.v)
        , mn{_r} AS MATERIALIZED (
          SELECT u, min(pri_v) AS mp FROM er{_r} GROUP BY 1)
        , w{_r} AS MATERIALIZED (
          SELECT a.node FROM a{_r - 1} a
          LEFT JOIN mn{_r} m ON m.u = a.node
          WHERE m.u IS NULL OR a.pri < m.mp)
        , rm{_r} AS MATERIALIZED (
          SELECT DISTINCT e.v AS node
          FROM er{_r} e JOIN w{_r} w ON w.node = e.u)
        , a{_r} AS MATERIALIZED (
          SELECT a.node, a.pri FROM a{_r - 1} a
          WHERE a.node NOT IN (SELECT node FROM w{_r})
            AND a.node NOT IN (SELECT node FROM rm{_r}))
        """)
    _mis.append("SELECT CAST(node AS BIGINT) AS node, "
                "CAST(r AS INT) AS mis_round FROM (")
    _mis.append(" UNION ALL ".join(
        f"SELECT node, {_r} AS r FROM w{_r}"
        for _r in range(1, MIS_ROUNDS + 1)))
    _mis.append(")")
    mis_sql = "".join(_mis)

    # q197 Boruvka MSF, unrolled rounds: per round, per-component min
    # (w, a, b) zero-pad priority (unique per edge, so the winner
    # read-back is a priority IN-join), then contraction via a
    # per-round RECURSIVE min-label CC over the winner component
    # graph (tiny: one edge per component).  RECURSIVE prefixes the
    # whole chain (DuckDB rule); everything non-recursive MUST be
    # MATERIALIZED.  Rounds past the fixpoint are
    # empty no-ops under the shared MST_ROUNDS budget.
    _mstw = md5_int_sql("CAST(a AS VARCHAR) || '#' || CAST(b AS VARCHAR)",
                        salt="mstw:")
    _mst = [f"""
        WITH RECURSIVE e0 AS MATERIALIZED (
          SELECT a, b, w,
                 lpad(CAST(w AS VARCHAR), 19, '0') || '#' ||
                 lpad(CAST(a AS VARCHAR), 19, '0') || '#' ||
                 lpad(CAST(b AS VARCHAR), 19, '0') AS pri
          FROM (SELECT a, b, ({_mstw} % 997) + 1 AS w
                FROM (SELECT DISTINCT l1.l_partkey AS a,
                                      l2.l_partkey AS b
                      FROM lineitem l1 JOIN lineitem l2
                        ON l2.l_orderkey = l1.l_orderkey
                       AND l1.l_partkey < l2.l_partkey
                      WHERE l1.l_quantity <= 15
                        AND l2.l_quantity <= 15)))
        , c0 AS MATERIALIZED (
          SELECT n AS node, n AS comp
          FROM (SELECT a AS n FROM e0 UNION SELECT b FROM e0))
    """]
    for _r in range(1, MST_ROUNDS + 1):
        _mst.append(f"""
        , x{_r} AS MATERIALIZED (
          SELECT e.a, e.b, e.w, e.pri, ca.comp AS ca, cb.comp AS cb
          FROM e0 e JOIN c{_r - 1} ca ON ca.node = e.a
          JOIN c{_r - 1} cb ON cb.node = e.b
          WHERE ca.comp <> cb.comp)
        , m{_r} AS MATERIALIZED (
          SELECT c, min(pri) AS mp FROM (
            SELECT ca AS c, pri FROM x{_r}
            UNION ALL SELECT cb AS c, pri FROM x{_r}) GROUP BY 1)
        , win{_r} AS MATERIALIZED (
          SELECT DISTINCT x.a, x.b, x.w, x.ca, x.cb
          FROM x{_r} x WHERE x.pri IN (SELECT mp FROM m{_r}))
        , g{_r} AS MATERIALIZED (
          SELECT ca AS u, cb AS v FROM win{_r}
          UNION SELECT cb, ca FROM win{_r})
        , r{_r}(n, l) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM g{_r})
          UNION
          SELECT rr.n, g.v FROM r{_r} rr JOIN g{_r} g ON g.u = rr.l)
        , p{_r} AS MATERIALIZED (
          SELECT n, min(l) AS nc FROM r{_r} GROUP BY 1)
        , c{_r} AS MATERIALIZED (
          SELECT c.node, coalesce(p.nc, c.comp) AS comp
          FROM c{_r - 1} c LEFT JOIN p{_r} p ON p.n = c.comp)
        """)
    _mst.append("SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,"
                " CAST(w AS BIGINT) AS w, CAST(r AS INT) AS mst_round"
                " FROM (")
    _mst.append(" UNION ALL ".join(
        f"SELECT a, b, w, {_r} AS r FROM win{_r}"
        for _r in range(1, MST_ROUNDS + 1)))
    _mst.append(")")
    mst_sql = "".join(_mst)


    # q206 temporal reachability, unrolled min-arrival rounds (the
    # SSSP oracle pattern with the time-respecting guard arr <= t);
    # rounds past the sf0.01 fixpoint (7 measured) are no-ops
    _tr = [r"""
        WITH ev AS MATERIALIZED (
          SELECT event_id, user_id,
                 CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT)
                     AS k
          FROM events),
        lagd AS MATERIALIZED (
          SELECT k, event_id, user_id,
                 lag(user_id) OVER (PARTITION BY k ORDER BY event_id)
                     AS pu
          FROM ev),
        ed AS MATERIALIZED (
          SELECT pu AS src, user_id AS dst, event_id AS t
          FROM lagd WHERE pu IS NOT NULL AND pu <> user_id),
        tsym AS MATERIALIZED (
          SELECT src, dst, t FROM ed
          UNION SELECT dst, src, t FROM ed),
        ar0 AS MATERIALIZED (
          SELECT DISTINCT user_id AS node, CAST(0 AS BIGINT) AS arr
          FROM ev WHERE user_id < 5)
    """]
    for _r in range(1, TEMPORAL_ORACLE_ROUNDS + 1):
        _tr.append(f"""
        , rx{_r} AS MATERIALIZED (
          SELECT s.dst AS node, s.t AS arr
          FROM ar{_r - 1} a JOIN tsym s ON s.src = a.node
          WHERE a.arr <= s.t)
        , ar{_r} AS MATERIALIZED (
          SELECT node, min(arr) AS arr FROM (
            SELECT node, arr FROM ar{_r - 1}
            UNION ALL SELECT node, arr FROM rx{_r}) GROUP BY 1)
        """)
    _tr.append(f"SELECT CAST(node AS BIGINT) AS node, "
               f"CAST(arr AS BIGINT) AS arrival "
               f"FROM ar{TEMPORAL_ORACLE_ROUNDS}")
    temporal_sql = "".join(_tr)

    # q198 densest-subgraph peel, unrolled rounds: exact-integer
    # removal threshold deg <= (2*3*m) // (2*n)  (eps = 1/2), one
    # trajectory row per round while edges remain, best = packed
    # (density_ppm, -round) max.  The planted part-1..40 clique is
    # the dense core the peel must isolate.
    _peel = ["""
        WITH pe0 AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT l1.l_partkey AS a, l2.l_partkey AS b
            FROM lineitem l1 JOIN lineitem l2
              ON l2.l_orderkey = l1.l_orderkey
             AND l1.l_partkey < l2.l_partkey
            WHERE l1.l_quantity <= 15 AND l2.l_quantity <= 15
            UNION ALL
            SELECT p1.p_partkey, p2.p_partkey
            FROM part p1 JOIN part p2 ON p2.p_partkey > p1.p_partkey
            WHERE p1.p_partkey <= 40 AND p2.p_partkey <= 40))
    """]
    for _r in range(1, PEEL_ROUNDS + 1):
        _peel.append(f"""
        , ps{_r} AS MATERIALIZED (
          SELECT (SELECT count(DISTINCT n) FROM (
                    SELECT a AS n FROM pe{_r - 1}
                    UNION ALL SELECT b FROM pe{_r - 1})) AS n,
                 (SELECT count(*) FROM pe{_r - 1}) AS m)
        , pt{_r} AS MATERIALIZED (
          SELECT {_r} AS rnd, n, m, (1000000 * m) // n AS density_ppm
          FROM ps{_r} WHERE m > 0)
        , pd{_r} AS MATERIALIZED (
          SELECT n AS v, count(*) AS d FROM (
            SELECT a AS n FROM pe{_r - 1}
            UNION ALL SELECT b FROM pe{_r - 1}) GROUP BY 1)
        , prm{_r} AS MATERIALIZED (
          SELECT d.v FROM pd{_r} d, ps{_r} s
          WHERE s.m > 0 AND d.d <= (2 * 3 * s.m) // (2 * s.n))
        , pe{_r} AS MATERIALIZED (
          SELECT e.a, e.b FROM pe{_r - 1} e
          WHERE e.a NOT IN (SELECT v FROM prm{_r})
            AND e.b NOT IN (SELECT v FROM prm{_r}))
        """)
    _peel.append(", ptraj AS MATERIALIZED (")
    _peel.append(" UNION ALL ".join(
        f"SELECT * FROM pt{_r}" for _r in range(1, PEEL_ROUNDS + 1)))
    _peel.append(""")
        SELECT CAST(rnd AS INT) AS round,
               CAST(n AS BIGINT) AS n_nodes,
               CAST(m AS BIGINT) AS n_edges,
               CAST(density_ppm AS BIGINT) AS density_ppm,
               CAST(CASE WHEN density_ppm * 64 + (63 - rnd) =
                    (SELECT max(density_ppm * 64 + (63 - rnd))
                     FROM ptraj) THEN 1 ELSE 0 END AS INT) AS is_best
        FROM ptraj
    """)
    peel_sql = "".join(_peel)

    # q188 deterministic maximal matching, unrolled rounds (the MIS
    # oracle's edge twin): per round, per-node min edge priority, an
    # edge wins iff it is the min at BOTH endpoints, then every edge
    # touching a matched node retires.  CTEs MUST be MATERIALIZED —
    # each round's active set feeds the endpoint expansion, both
    # winner joins, and the next round.
    _mm = ["""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l2.l_orderkey = l1.l_orderkey
           AND l1.l_partkey < l2.l_partkey
          WHERE l1.l_quantity <= 15 AND l2.l_quantity <= 15),
        a0 AS MATERIALIZED (
          SELECT a, b,
                 md5(CAST(a AS VARCHAR) || '#' || CAST(b AS VARCHAR))
                   || '#' || CAST(a AS VARCHAR)
                   || '#' || CAST(b AS VARCHAR) AS pri
          FROM e0)
    """]
    for _r in range(1, MATCH_ROUNDS + 1):
        _mm.append(f"""
        , inc{_r} AS MATERIALIZED (
          SELECT a AS node, pri FROM a{_r - 1}
          UNION ALL SELECT b, pri FROM a{_r - 1})
        , mn{_r} AS MATERIALIZED (
          SELECT node, min(pri) AS mp FROM inc{_r} GROUP BY 1)
        , w{_r} AS MATERIALIZED (
          SELECT e.a, e.b FROM a{_r - 1} e
          JOIN mn{_r} ma ON ma.node = e.a AND ma.mp = e.pri
          JOIN mn{_r} mb ON mb.node = e.b AND mb.mp = e.pri)
        , mt{_r} AS MATERIALIZED (
          SELECT a AS node FROM w{_r} UNION ALL SELECT b FROM w{_r})
        , a{_r} AS MATERIALIZED (
          SELECT e.a, e.b, e.pri FROM a{_r - 1} e
          WHERE e.a NOT IN (SELECT node FROM mt{_r})
            AND e.b NOT IN (SELECT node FROM mt{_r}))
        """)
    _mm.append("SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, "
               "CAST(r AS INT) AS match_round FROM (")
    _mm.append(" UNION ALL ".join(
        f"SELECT a, b, {_r} AS r FROM w{_r}"
        for _r in range(1, MATCH_ROUNDS + 1)))
    _mm.append(")")
    matching_sql = "".join(_mm)

    _bl = TX.blocklist_phrase_counts_sql("text")
    _bl_defs = ", ".join(f"{e} AS {n}" for e, n in _bl)
    _bl_names = ", ".join(n for _, n in _bl)
    _bl_sum = " + ".join(n for _, n in _bl)


    minhash_cols = ", ".join(
        f"CAST(min({md5_int_sql('shingle', salt=f'mh{i}:')}) AS BIGINT) AS mh{i}"
        for i in range(8))
    band_keys = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(',', mh{b*2}, mh{b*2+1})) AS band_key FROM sig"
        for b in range(4))

    simhash_votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(16))
    simhash_bits = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(16))
    mini_gaz_values = ", ".join(f"('{s}')" for s in MINI_GAZ)

    # robots-gate oracle (q129): md5-derived synthetic frontier +
    # VALUES rules, per-(host, doc) any-prefix-match, per-host tally
    _rg_host = md5_int_sql("CAST(doc_id AS VARCHAR)", salt="rgh:")
    _rg_p1 = md5_int_sql("CAST(doc_id AS VARCHAR)", salt="rgp:")
    _rg_p2 = md5_int_sql("CAST(doc_id AS VARCHAR)", salt="rgq:")
    _rg_rules = ", ".join(f"('{h}', '{p}')" for h, p in ROBOTS_RULES)
    robots_gate_sql = f"""
        WITH u AS (SELECT doc_id,
                          'h' || CAST({_rg_host} % 5 AS VARCHAR)
                              || '.example.com' AS host,
                          '/s' || CAST({_rg_p1} % 7 AS VARCHAR)
                              || '/t' || CAST({_rg_p2} % 11 AS VARCHAR)
                              AS path
                   FROM documents),
        r(host, prefix) AS (VALUES {_rg_rules}),
        g AS (SELECT u.host, u.doc_id,
                     coalesce(max(CASE WHEN starts_with(u.path, r.prefix)
                                       THEN 1 ELSE 0 END), 0) AS blocked
              FROM u LEFT JOIN r ON r.host = u.host
              GROUP BY 1, 2)
        SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
               CAST(sum(blocked) AS BIGINT) AS n_blocked,
               CAST(sum(1 - blocked) AS BIGINT) AS n_allowed
        FROM g GROUP BY 1
    """

    # fetch-rounds oracle (q133): the q129 frontier+gate CTEs, allowed
    # rows ranked per host by the same salted-md5 priority, log2 bins
    _fr_pr = md5_int_sql("CAST(doc_id AS VARCHAR)", salt="fetch:")
    fetch_rounds_sql = f"""
        WITH u AS (SELECT doc_id,
                          'h' || CAST({_rg_host} % 5 AS VARCHAR)
                              || '.example.com' AS host,
                          '/s' || CAST({_rg_p1} % 7 AS VARCHAR)
                              || '/t' || CAST({_rg_p2} % 11 AS VARCHAR)
                              AS path
                   FROM documents),
        r(host, prefix) AS (VALUES {_rg_rules}),
        g AS (SELECT u.host, u.doc_id,
                     coalesce(max(CASE WHEN starts_with(u.path, r.prefix)
                                       THEN 1 ELSE 0 END), 0) AS blocked
              FROM u LEFT JOIN r ON r.host = u.host
              GROUP BY 1, 2),
        rd AS (SELECT host,
                      row_number() OVER (PARTITION BY host
                                         ORDER BY {_fr_pr}, doc_id)
                          AS rnd
               FROM g WHERE blocked = 0)
        SELECT CAST(length(bin(rnd)) AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_urls,
               CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
               CAST(min(rnd) AS BIGINT) AS min_round,
               CAST(max(rnd) AS BIGINT) AS max_round
        FROM rd GROUP BY 1
    """


    # recrawl-schedule oracle (q135): rebuild the hash-deterministic
    # snapshot history, lag-compare fingerprints, integer MLE rate
    _rc_rate = md5_int_sql("CAST(doc_id AS VARCHAR)", salt="rate:")
    _rc_chg = md5_int_sql("url || ':' || CAST(i AS VARCHAR)",
                          salt="chg:")
    recrawl_schedule_sql = f"""
        WITH d AS (SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                          5 + {_rc_rate} % 90 AS pct
                   FROM documents),
        s AS (SELECT url, pct, unnest(range(0, {RECRAWL_EPOCHS}))
                  AS epoch
              FROM d),
        v AS (SELECT url, epoch,
                     'v' || CAST(coalesce(list_sum(list_transform(
                         range(1, epoch + 1),
                         i -> CASE WHEN {_rc_chg} % 100 < pct
                              THEN 1 ELSE 0 END)), 0) AS VARCHAR)
                         AS fp
              FROM s),
        rd AS (SELECT url, fp,
                      lag(fp) OVER (PARTITION BY url ORDER BY epoch)
                          AS pfp
               FROM v),
        per AS (SELECT url, count(*) AS n_epochs,
                       sum(CASE WHEN pfp IS NOT NULL AND fp <> pfp
                                THEN 1 ELSE 0 END) AS n_changes
                FROM rd GROUP BY 1),
        r AS (SELECT *,
                     CASE WHEN n_epochs > 1 THEN
                          (n_changes * 1000000) // (n_epochs - 1)
                          ELSE 0 END AS rate
              FROM per)
        SELECT url, CAST(n_epochs AS BIGINT) AS n_epochs,
               CAST(n_changes AS BIGINT) AS n_changes,
               CAST(rate AS BIGINT) AS change_rate_ppm,
               CAST(CASE WHEN rate = 0 THEN 0
                    ELSE length(bin(rate)) END AS INT)
                   AS refresh_bucket
        FROM r
    """

    # truth-finding oracle (q136): rebuild the hash-deterministic
    # claim table, then the vote -> trust -> weighted-revote chain
    # with the same VAL_BASE packed argmax
    from python_mecab_ner_spark.operators.truth import VAL_BASE as _VB
    _tf_sid = md5_int_sql("CAST(doc_id AS VARCHAR)", salt="subj:")
    _tf_tv = (md5_int_sql(f"CAST(({_tf_sid} % {TRUTH_SUBJECTS}) "
                          "AS VARCHAR)", salt="true:")
              + f" % {TRUTH_VALS}")
    _tf_err = "10 + " + md5_int_sql("source", salt="err:") + " % 55"
    _tf_obs = md5_int_sql("CAST(doc_id AS VARCHAR)", salt="obs:")
    _tf_alt = md5_int_sql("CAST(doc_id AS VARCHAR)", salt="alt:")
    truth_finding_sql = f"""
        WITH c AS (SELECT source,
                          {_tf_sid} % {TRUTH_SUBJECTS} AS subj,
                          CASE WHEN {_tf_obs} % 100 < ({_tf_err})
                               THEN (({_tf_tv}) + 1
                                     + {_tf_alt} % {TRUTH_VALS - 1})
                                    % {TRUTH_VALS}
                               ELSE ({_tf_tv}) END AS val
                   FROM documents),
        g AS (SELECT subj, val, source, count(*) AS cnt
              FROM c GROUP BY 1, 2, 3),
        sv AS (SELECT subj, val, sum(cnt) AS n FROM g GROUP BY 1, 2),
        c0 AS (SELECT subj,
                      {_VB - 1} - (max(n * {_VB} + ({_VB - 1} - val))
                                   % {_VB}) AS naive_val
               FROM sv GROUP BY 1),
        tr AS (SELECT g.source,
                      ((sum(CASE WHEN g.val = c0.naive_val
                                 THEN cnt ELSE 0 END) + 1) * 1000000)
                      // (sum(cnt) + 2) AS trust_ppm
               FROM g JOIN c0 ON c0.subj = g.subj GROUP BY 1),
        w AS (SELECT subj, val,
                     sum(cnt * trust_ppm) AS score, sum(cnt) AS n
              FROM g JOIN tr ON tr.source = g.source GROUP BY 1, 2),
        o AS (SELECT subj,
                     max(score * {_VB} + ({_VB - 1} - val)) AS p1,
                     sum(score) AS total, sum(n) AS n_claims,
                     count(*) AS n_vals
              FROM w GROUP BY 1)
        SELECT CAST(o.subj AS BIGINT) AS subj,
               CAST(c0.naive_val AS BIGINT) AS naive_val,
               CAST({_VB - 1} - (p1 % {_VB}) AS BIGINT) AS val,
               CAST(n_claims AS BIGINT) AS n_claims,
               CAST(n_vals AS BIGINT) AS n_vals,
               CAST(((p1 // {_VB}) * 1000000) // total AS BIGINT)
                   AS support_ppm
        FROM o JOIN c0 ON c0.subj = o.subj
    """

    # C4 line-rules oracle (q139): rebuild the hash-synthesized pages,
    # then the same rule columns via the c4_line_stats_sql twin
    _c4_key = "CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)"
    _c4_js = md5_int_sql(_c4_key, salt="js:")
    _c4_punct = md5_int_sql(_c4_key, salt="punct:")
    _c4_lorem = md5_int_sql("CAST(doc_id AS VARCHAR)", salt="lorem:")
    _c4_cols = ", ".join(f"{sql} AS {name}" for sql, name
                         in TX.c4_line_stats_sql("page"))
    c4_line_rules_sql = f"""
        WITH t AS (SELECT doc_id,
                          regexp_split_to_array(regexp_replace(
                              lower(trim(text)), '\\s+', ' ', 'g'),
                              ' ') AS w
                   FROM documents),
        l AS (SELECT doc_id, array_to_string(list_transform(
                  range(0, greatest((len(w) - 1) // 4, 0) + 1),
                  i -> (CASE WHEN {_c4_js} % 7 = 0
                             THEN 'javascript ' ELSE '' END)
                       || array_to_string(
                              w[i * 4 + 1 : least(i * 4 + 4, len(w))],
                              ' ')
                       || (CASE WHEN {_c4_punct} % 4 > 0
                                THEN '.' ELSE '' END)), chr(10))
                  AS page0
              FROM t),
        p AS (SELECT doc_id,
                     CASE WHEN {_c4_lorem} % 17 = 0
                          THEN page0 || chr(10) || 'lorem ipsum .'
                          ELSE page0 END AS page
              FROM l)
        SELECT doc_id, {_c4_cols} FROM p
    """

    # schema-induction oracles (q140-q142): the typed triple CTE is the
    # byte-identical twin of _ontology_triples / _ontology_types
    _tri_cte = """
        ps AS (SELECT DISTINCT l_partkey * 10 AS p,
                               l_suppkey * 10 + 1 AS s FROM lineitem),
        tri AS (
            SELECT 'made_by' AS pred, p AS subj, s AS obj FROM ps
            UNION ALL SELECT 'makes', s, p FROM ps
            UNION ALL SELECT 'in_nation', s_suppkey * 10 + 1,
                             s_nationkey * 10 + 3 FROM supplier
            UNION ALL SELECT 'ordered', o_custkey * 10 + 2,
                             l_partkey * 10
                      FROM lineitem
                      JOIN orders ON l_orderkey = o_orderkey
            UNION ALL SELECT 'linked',
                             CASE WHEN l_linenumber % 2 = 1
                                  THEN l_partkey * 10
                                  ELSE l_suppkey * 10 + 1 END,
                             (l_suppkey % 25) * 10 + 3
                      FROM lineitem),
        pairs AS (SELECT DISTINCT pred, subj, obj FROM tri)
    """
    pred_functionality_sql = f"""
        WITH {_tri_cte},
        a AS (SELECT pred, count(*) AS n_pairs,
                     count(DISTINCT subj) AS n_subj,
                     count(DISTINCT obj) AS n_obj
              FROM pairs GROUP BY 1)
        SELECT pred, CAST(n_pairs AS BIGINT) AS n_pairs,
               CAST(n_subj AS BIGINT) AS n_subj,
               CAST(n_obj AS BIGINT) AS n_obj,
               CAST((n_subj * 1000000) // n_pairs AS BIGINT)
                   AS func_ppm,
               CAST((n_obj * 1000000) // n_pairs AS BIGINT)
                   AS inv_func_ppm
        FROM a
    """
    _types_cte = """
        types AS (
            SELECT p_partkey * 10 AS node, 'part' AS type FROM part
            UNION ALL SELECT s_suppkey * 10 + 1, 'supplier'
                      FROM supplier
            UNION ALL SELECT c_custkey * 10 + 2, 'customer'
                      FROM customer
            UNION ALL SELECT n_nationkey * 10 + 3, 'nation' FROM nation)
    """
    _modal_cte = """
        {side}c AS (SELECT pred, type, count(*) AS cnt
               FROM pairs JOIN types ON {col} = node GROUP BY 1, 2),
        {side}t AS (SELECT pred, max(cnt) AS top_cnt,
                           sum(cnt) AS n_typed
                    FROM {side}c GROUP BY 1),
        {side}w AS (SELECT c.pred, min(type) AS {side}_type,
                           max(top_cnt) AS top,
                           max(n_typed) AS n_typed
                    FROM {side}c c JOIN {side}t t
                      ON t.pred = c.pred AND cnt = top_cnt
                    GROUP BY 1)
    """
    domain_range_sql = f"""
        WITH {_tri_cte}, {_types_cte},
        {_modal_cte.format(side='domain', col='subj').strip().strip(',')},
        {_modal_cte.format(side='range', col='obj').strip().strip(',')}
        SELECT d.pred, d.domain_type,
               CAST(d.n_typed AS BIGINT) AS n_domain_typed,
               CAST((d.top * 1000000) // d.n_typed AS BIGINT)
                   AS domain_ppm,
               r.range_type,
               CAST(r.n_typed AS BIGINT) AS n_range_typed,
               CAST((r.top * 1000000) // r.n_typed AS BIGINT)
                   AS range_ppm
        FROM domainw d JOIN rangew r ON r.pred = d.pred
    """
    inverse_preds_sql = f"""
        WITH {_tri_cte},
        np AS (SELECT pred, count(*) AS n FROM pairs GROUP BY 1),
        inter AS (SELECT a.pred AS pred_a, b.pred AS pred_b,
                         count(*) AS n_inter
                  FROM pairs a JOIN pairs b
                    ON a.subj = b.obj AND a.obj = b.subj
                   AND a.pred <= b.pred
                  GROUP BY 1, 2)
        SELECT pred_a, pred_b, CAST(n_inter AS BIGINT) AS n_inter,
               CAST((n_inter * 1000000)
                    // (na.n + nb.n - n_inter) AS BIGINT) AS jaccard_ppm
        FROM inter
        JOIN np na ON na.pred = pred_a
        JOIN np nb ON nb.pred = pred_b
    """
    from python_mecab_ner_spark.operators.sample import isqrt_sql
    mix_weights_sql = f"""
        WITH c AS (SELECT 'c' || CAST(length(bin(CAST(doc_id AS BIGINT)))
                                      AS VARCHAR) AS source,
                          count(*) AS n_docs
                   FROM documents GROUP BY 1),
        s AS (SELECT source, n_docs,
                     {isqrt_sql('n_docs')} AS sq FROM c),
        t AS (SELECT sum(n_docs) AS total, sum(sq) AS sq_total FROM s),
        w AS (SELECT source, n_docs,
                     (n_docs * 1000000) // total AS nat_ppm,
                     (sq * 1000000) // sq_total AS w_ppm
              FROM s CROSS JOIN t)
        SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(nat_ppm AS BIGINT) AS nat_ppm,
               CAST(w_ppm AS BIGINT) AS w_ppm,
               CAST((w_ppm * 1000000) // greatest(nat_ppm, 1)
                    AS BIGINT) AS boost_ppm
        FROM w
    """

    stat_labels_in = ", ".join(f"'{s}'" for s in STAT_LABELS)
    stat_labels_values = ", ".join(f"('{s}')" for s in STAT_LABELS)
    # shared context/stats CTE chain for q33/q34 (twin of
    # operators.linking.build_neighbor_stats over whitespace tokens)
    stats_cte = f"""
        WITH t AS (SELECT doc_id,
                          regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                   FROM documents),
        ctx AS (SELECT doc_id, unnest(w) AS word,
                       generate_subscripts(w, 1) - 1 AS idx
                FROM t),
        c2 AS (SELECT * FROM ctx WHERE word <> ''),
        m AS (SELECT doc_id, idx AS s, word AS label FROM c2
              WHERE word IN ({stat_labels_in})),
        nb AS (SELECT m.label, c.word FROM m JOIN c2 c
                ON c.doc_id = m.doc_id
               AND c.idx >= m.s - 3 AND c.idx < m.s + 1 + 3
               AND c.idx <> m.s),
        stats AS (SELECT label, word, count(*) AS cnt FROM nb GROUP BY 1, 2)
    """

    return {
        "q01_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(sum({cents.format(x='l_quantity')}) AS BIGINT) AS sum_qty_c,
                   CAST(sum({cents.format(x='l_extendedprice')}) AS BIGINT) AS sum_price_c,
                   count(*) AS n_rows
            FROM lineitem GROUP BY 1, 2
        """,
        "q02_region_revenue": f"""
            SELECT r_name,
                   CAST(sum({cents.format(x='o_totalprice')}) AS BIGINT) AS rev_c,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
        "q03_topk_per_group": """
            SELECT o_orderpriority, o_orderkey, rn FROM (
              SELECT o_orderpriority, o_orderkey,
                     CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
              FROM orders) WHERE rn <= 3
        """,
        "q04_event_islands": f"""
            WITH m AS (SELECT DISTINCT user_id, {minute.format(c='ts')} AS minute FROM events),
            g AS (SELECT user_id, minute,
                         minute - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY minute) AS grp
                  FROM m),
            r AS (SELECT user_id, grp, count(*) AS run_len FROM g GROUP BY 1, 2)
            SELECT user_id, count(*) AS n_runs, CAST(max(run_len) AS BIGINT) AS max_len
            FROM r GROUP BY user_id
        """,
        "q05_nearest_click": f"""
            WITH e AS (SELECT event_id, user_id, {minute.format(c='ts')} AS pos
                       FROM events WHERE event_type = 'error'),
            c AS (SELECT event_id AS click_id, user_id, {minute.format(c='ts')} AS cpos
                  FROM events WHERE event_type = 'click'),
            j AS (SELECT e.event_id, c.click_id,
                         ROW_NUMBER() OVER (PARTITION BY e.event_id
                             ORDER BY abs(e.pos - c.cpos), c.cpos, c.click_id) AS rn
                  FROM e JOIN c ON e.user_id = c.user_id)
            SELECT event_id, click_id FROM j WHERE rn = 1
        """,
        "q06_semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400)
        """,
        "q07_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
        """,
        "q08_word_freq": """
            SELECT word, count(*) AS cnt FROM (
              SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
              FROM documents)
            WHERE word <> '' GROUP BY word HAVING count(*) >= 20
        """,
        "q09_neighbor_window": f"""
            SELECT event_id,
                   CAST(sum({cents.format(x='value')}) OVER (
                        PARTITION BY user_id
                        ORDER BY {minute.format(c='ts')}, event_id
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS w_sum_c
            FROM events
        """,
        "q11_token_count": f"SELECT doc_id, {tok_sql} AS n_tokens FROM documents",
        "q12_lang_id": f"SELECT doc_id, {lang_sql} AS lang_pred FROM documents",
        "q13_quality_score": f"SELECT doc_id, {qual_sql} AS quality FROM documents",
        "q14_fingerprint": f"SELECT doc_id, {fp_sql} AS fp FROM documents",
        "q16_jaccard_pairs": shingle_cte + f"""
            , keep AS (SELECT shingle FROM sh
                       GROUP BY shingle HAVING count(*) <= {MAX_SH_DF}),
            shc AS (SELECT sh.doc_id, sh.shingle FROM sh
                    JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY 1),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b, inter,
                   sa.n_sh + sb.n_sh - inter AS uni
            FROM pairs
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE inter >= 2
        """,
        "q113_normalize": f"""
            WITH m AS (SELECT doc_id, {_MESSY_TEXT_SQL} AS mt
                       FROM documents)
            SELECT doc_id,
                   CAST(CASE WHEN {TX.normalize_text_sql('mt')} <> mt
                        THEN 1 ELSE 0 END AS INT) AS changed,
                   CAST({md5_int_sql(TX.normalize_text_sql('mt'))}
                        AS BIGINT) AS norm_fp
            FROM m
        """,
        "q17_lsh_pairs": shingle_cte + f"""
            , sig AS (SELECT doc_id, {minhash_cols} FROM sh GROUP BY doc_id),
            banded AS ({band_keys})
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        """,
        # sequential Poisson pps: priority = h32 * 1e6 div weight,
        # bottom-10 per source
        "q116_weighted_sample": f"""
            WITH p AS (SELECT source, doc_id, n_chars,
                              ({md5_int_sql("CAST(doc_id AS VARCHAR)",
                                            bits_hex=8, salt="wps:")}
                               * 1000000) // greatest(n_chars, 1)
                                  AS priority
                       FROM documents),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY source
                      ORDER BY priority, doc_id) AS rk FROM p)
            SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(priority AS BIGINT) AS priority
            FROM r WHERE rk <= 10
        """,
        "q117_script_mix": f"""
            WITH m AS (SELECT doc_id, {_PII_TEXT_SQL} AS t
                       FROM documents)
            SELECT doc_id, {", ".join(TX.script_mix_ppm_sql('t'))}
            FROM m
        """,
        "q121_blocklist": f"""
            WITH h AS (SELECT doc_id, {_bl_defs} FROM documents)
            SELECT doc_id, {_bl_names},
                   CAST({_bl_sum} AS BIGINT) AS n_hits,
                   CASE WHEN {_bl_sum} > 0 THEN 1 ELSE 0 END AS blocked
            FROM h
        """,
        "q123_hyperball": hyperball_sql,
        "q129_robots_gate": robots_gate_sql,
        "q133_fetch_rounds": fetch_rounds_sql,
        "q135_recrawl_schedule": recrawl_schedule_sql,
        "q136_truth_finding": truth_finding_sql,
        "q139_c4_line_rules": c4_line_rules_sql,
        "q140_pred_functionality": pred_functionality_sql,
        "q141_domain_range": domain_range_sql,
        "q142_inverse_preds": inverse_preds_sql,
        "q143_mix_weights": mix_weights_sql,
        "q148_encoding_audit": """
            WITH p AS (SELECT source,
                              text
                              || CASE WHEN doc_id % 7 = 0
                                      THEN chr(65533) ELSE '' END
                              || CASE WHEN doc_id % 11 = 0
                                      THEN chr(1) ELSE '' END AS page
                       FROM documents),
            m AS (SELECT source, length(page) AS len,
                         length(page)
                         - length(replace(page, chr(65533), '')) AS r,
                         length(page) - length(regexp_replace(page,
                             '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '',
                             'g')) AS c
                  FROM p)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN r > 0 OR c > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_bad_docs,
                   CAST(sum(r) AS BIGINT) AS repl_chars,
                   CAST(sum(c) AS BIGINT) AS ctrl_chars,
                   CAST((1000000 * sum(r)) // sum(len) AS BIGINT)
                       AS repl_ppm,
                   CAST((1000000 * sum(c)) // sum(len) AS BIGINT)
                       AS ctrl_ppm
            FROM m GROUP BY source
        """,
        "q149_ngram_diversity": """
            WITH t AS (SELECT source,
                              regexp_split_to_array(lower(trim(text)),
                                                    '\\s+') AS w
                       FROM documents),
            t2 AS (SELECT source, w FROM t WHERE len(w) >= 3),
            g AS (SELECT source,
                         unnest(list_transform(
                             generate_series(1, len(w) - 2),
                             i -> array_to_string(w[i:i+2], ' ')))
                             AS gram
                  FROM t2),
            per AS (SELECT source, gram, count(*) AS c
                    FROM g GROUP BY 1, 2)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS distinct_ngrams,
                   CAST(sum(c) AS BIGINT) AS total_ngrams,
                   CAST((1000000 * count(*)) // sum(c) AS BIGINT)
                       AS distinct_ppm
            FROM per GROUP BY source
        """,
        # q150: byte-identical twin of _rule_triples +
        # ontology.rule_mining (min_support=2, no degree cap)
        "q150_rule_mining": """
            WITH li AS (SELECT * FROM lineitem
                        WHERE l_orderkey % 16 = 0),
            ps AS (SELECT DISTINCT l_partkey * 10 AS p,
                                   l_suppkey * 10 + 1 AS s FROM li),
            tri AS (
                SELECT 'made_by' AS pred, p AS subj, s AS obj FROM ps
                UNION ALL SELECT 'makes', s, p FROM ps
                UNION ALL SELECT 'in_nation', s_suppkey * 10 + 1,
                                 s_nationkey * 10 + 3 FROM supplier
                UNION ALL SELECT 'ordered', o_custkey * 10 + 2,
                                 l_partkey * 10
                          FROM li JOIN orders ON l_orderkey = o_orderkey
                UNION ALL SELECT 'linked',
                                 CASE WHEN l_linenumber % 2 = 1
                                      THEN l_partkey * 10
                                      ELSE l_suppkey * 10 + 1 END,
                                 (l_suppkey % 25) * 10 + 3
                          FROM li
                UNION ALL SELECT DISTINCT 'supplied_from',
                                 l_partkey * 10, s_nationkey * 10 + 3
                          FROM li JOIN supplier
                            ON l_suppkey = s_suppkey
                          WHERE l_partkey % 2 = 0),
            pairs AS (SELECT DISTINCT pred, subj, obj FROM tri),
            body AS (SELECT DISTINCT a.pred AS p, b.pred AS q,
                            a.subj AS x, b.obj AS z
                     FROM pairs a JOIN pairs b ON a.obj = b.subj),
            nb AS (SELECT p, q, count(*) AS n_body
                   FROM body GROUP BY 1, 2),
            supp AS (SELECT p, q, h.pred AS r, count(*) AS n_support
                     FROM body JOIN pairs h
                       ON h.subj = x AND h.obj = z
                     GROUP BY 1, 2, 3),
            rsubj AS (SELECT DISTINCT pred AS r, subj AS x FROM pairs),
            pca AS (SELECT p, q, r, count(*) AS n_pca
                    FROM body JOIN rsubj ON rsubj.x = body.x
                    GROUP BY 1, 2, 3)
            SELECT p AS pred_p, q AS pred_q, r AS pred_r,
                   CAST(n_body AS BIGINT) AS n_body,
                   CAST(n_support AS BIGINT) AS n_support,
                   CAST(n_pca AS BIGINT) AS n_pca,
                   CAST((n_support * 1000000) // n_body AS BIGINT)
                       AS conf_ppm,
                   CAST((n_support * 1000000) // n_pca AS BIGINT)
                       AS pca_conf_ppm
            FROM supp JOIN pca USING (p, q, r) JOIN nb USING (p, q)
            WHERE n_support >= 2
        """,
        # q151: twin of operators.temporal.edge_lifespan over the
        # three deterministic crawl versions of (orderkey, partkey)
        "q151_edge_lifespan": """
            WITH e AS (
                SELECT l_orderkey AS src, l_partkey AS dst,
                       1 AS version
                FROM lineitem WHERE l_linenumber <= 4
                UNION ALL SELECT l_orderkey, l_partkey, 2
                          FROM lineitem WHERE l_linenumber >= 2
                UNION ALL SELECT l_orderkey, l_partkey, 3
                          FROM lineitem WHERE l_linenumber % 2 = 1),
            g AS (SELECT src, dst, min(version) AS first_seen,
                         max(version) AS last_seen,
                         count(DISTINCT version) AS n_versions
                  FROM e GROUP BY 1, 2),
            c AS (SELECT max(version) AS cur FROM e)
            SELECT CAST(src AS BIGINT) AS src,
                   CAST(dst AS BIGINT) AS dst,
                   CAST(first_seen AS BIGINT) AS first_seen,
                   CAST(last_seen AS BIGINT) AS last_seen,
                   CAST(n_versions AS BIGINT) AS n_versions,
                   CAST(last_seen - first_seen + 1 - n_versions
                        AS BIGINT) AS n_gaps,
                   CAST(CASE WHEN last_seen = cur THEN 1 ELSE 0 END
                        AS INT) AS is_current
            FROM g CROSS JOIN c
        """,
        "q147_bcubed_eval": """
            WITH a AS (SELECT p_partkey AS i, p_brand AS c,
                              (regexp_split_to_array(p_type, ' '))[1] AS g
                       FROM part),
            pair AS (SELECT c, g, count(*) AS cnt FROM a GROUP BY 1, 2),
            cs AS (SELECT c, count(*) AS cs FROM a GROUP BY 1),
            gs AS (SELECT g, count(*) AS gs FROM a GROUP BY 1),
            tot AS (SELECT count(*) AS n,
                           count(DISTINCT c) AS nc,
                           count(DISTINCT g) AS ng FROM a),
            terms AS (SELECT sum((1000000 * cnt * cnt) // cs) AS pnum,
                             sum((1000000 * cnt * cnt) // gs) AS rnum
                      FROM pair JOIN cs USING (c) JOIN gs USING (g)),
            pr AS (SELECT CAST(n AS BIGINT) AS n_items,
                          CAST(nc AS BIGINT) AS n_clusters,
                          CAST(ng AS BIGINT) AS n_gold,
                          CAST(pnum // n AS BIGINT) AS b3_precision_ppm,
                          CAST(rnum // n AS BIGINT) AS b3_recall_ppm
                   FROM terms CROSS JOIN tot)
            SELECT n_items, n_clusters, n_gold,
                   b3_precision_ppm, b3_recall_ppm,
                   CAST(CASE WHEN b3_precision_ppm + b3_recall_ppm = 0
                        THEN 0
                        ELSE (2 * b3_precision_ppm * b3_recall_ppm)
                             // (b3_precision_ppm + b3_recall_ppm)
                        END AS BIGINT) AS b3_f1_ppm
            FROM pr
        """,
        "q145_warc_roundtrip": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   md5(text) AS payload_md5
            FROM documents
        """,
        "q18_simhash": f"""
            WITH words AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
              FROM documents),
            h AS (SELECT doc_id, {md5_int_sql('w')} AS h
                  FROM words WHERE w <> ''),
            votes AS (SELECT doc_id, {simhash_votes} FROM h GROUP BY doc_id)
            SELECT doc_id, CAST({simhash_bits} AS BIGINT) AS simhash FROM votes
        """,
        "q19_mention_firstpos": f"""
            WITH gaz(surface) AS (VALUES {mini_gaz_values})
            SELECT doc_id, surface,
                   CAST(instr(concat(' ', lower(text), ' '),
                              concat(' ', surface, ' ')) AS BIGINT) AS first_pos
            FROM documents CROSS JOIN gaz
            WHERE instr(concat(' ', lower(text), ' '), concat(' ', surface, ' ')) > 0
        """,
        "q20_ann_bruteforce": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            s AS (SELECT vec_id, list_cosine_similarity(embedding, qe) AS cos
                  FROM embeddings, q)
            SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
            FROM s ORDER BY cos DESC, vec_id LIMIT 10
        """,
        "q21_ann_lsh": _ann_lsh_sql(),
        "q31_asof_join": f"""
            WITH e AS (SELECT event_id, user_id, {minute.format(c='ts')} AS pos
                       FROM events WHERE event_type = 'error'),
            c AS (SELECT event_id AS click_id, user_id,
                         {minute.format(c='ts')} AS cpos
                  FROM events WHERE event_type = 'click'),
            j AS (SELECT e.event_id, c.click_id,
                         ROW_NUMBER() OVER (PARTITION BY e.event_id
                             ORDER BY c.cpos DESC, c.click_id DESC) AS rn
                  FROM e JOIN c ON e.user_id = c.user_id
                  WHERE c.cpos <= e.pos)
            SELECT event_id, click_id FROM j WHERE rn = 1
        """,
        "q32_trailing_window": f"""
            SELECT event_id,
                   count(*) OVER (PARTITION BY user_id
                        ORDER BY {minute.format(c='ts')}
                        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                   AS n_trailing
            FROM events
        """,
        "q62_ppr": _ppr_sql(PPR_SEEDS),
        # strict-order funnel: each stage's min time gates the next
        "q63_funnel": f"""
            WITH v AS (SELECT user_id, min({minute.format(c='ts')}) AS t1
                       FROM events WHERE event_type = 'view' GROUP BY 1),
            c AS (SELECT e.user_id, min({minute.format(c='e.ts')}) AS t2
                  FROM events e JOIN v ON v.user_id = e.user_id
                  WHERE e.event_type = 'click'
                    AND {minute.format(c='e.ts')} > v.t1 GROUP BY 1),
            p AS (SELECT e.user_id, min({minute.format(c='e.ts')}) AS t3
                  FROM events e JOIN c ON c.user_id = e.user_id
                  WHERE e.event_type = 'purchase'
                    AND {minute.format(c='e.ts')} > c.t2 GROUP BY 1)
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM v)
                       AS n_view_users,
                   (SELECT CAST(count(*) AS BIGINT) FROM c)
                       AS n_click_users,
                   (SELECT CAST(count(*) AS BIGINT) FROM p)
                       AS n_purchase_users
        """,
        "q64_cohort_retention": """
            WITH acts AS (SELECT DISTINCT user_id,
                                 CAST(date_part('doy', ts) AS INT) AS day
                          FROM events),
            cohort AS (SELECT user_id, min(day) AS cohort_day
                       FROM acts GROUP BY 1)
            SELECT CAST(cohort_day AS INT) AS cohort_day,
                   CAST(day - cohort_day AS INT) AS day_off,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM acts JOIN cohort USING (user_id)
            GROUP BY 1, 2
        """,
        "q30_rollup": f"""
            SELECT o_orderpriority, o_orderstatus,
                   count(*) AS n_orders,
                   CAST(sum({cents.format(x='o_totalprice')}) AS BIGINT) AS rev_c,
                   CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid
            FROM orders
            GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        """,
        "q68_weighted_rank": _wpr_oracle_sql(iters=3),
        "q78_source_mix": f"""
            WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
                       FROM documents GROUP BY 1),
            t AS (SELECT CAST(sum(n_s) AS BIGINT) AS total,
                         CAST(count(*) AS BIGINT) AS n_sources FROM c),
            r AS (SELECT source, n_s,
                         least(CAST(10000 AS BIGINT),
                               (10000 * (total // (2 * n_sources)))
                                   // n_s) AS rate
                  FROM c CROSS JOIN t),
            k AS (SELECT source,
                         {md5_int_sql("CAST(doc_id AS VARCHAR)",
                                      salt="mix:")} % 10000 AS h
                  FROM documents)
            SELECT k.source,
                   max(r.n_s) AS n_docs, max(r.rate) AS rate,
                   CAST(sum(CASE WHEN k.h < r.rate THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_kept
            FROM k JOIN r ON r.source = k.source
            GROUP BY 1
        """,
        "q70_communities": _lpa_oracle_sql(iters=2),
        "q107_next_word": """
            WITH t AS (SELECT doc_id, regexp_split_to_array(
                           lower(trim(text)), '\\s+') AS w
                       FROM documents),
            ctx AS (SELECT doc_id, unnest(w) AS word,
                           generate_subscripts(w, 1) - 1 AS idx
                    FROM t),
            c2 AS (SELECT * FROM ctx WHERE word <> ''),
            big AS (SELECT a.word AS w1, b.word AS w2,
                           CAST(count(*) AS BIGINT) AS c
                    FROM c2 a JOIN c2 b
                      ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
                    GROUP BY 1, 2 HAVING count(*) >= 5),
            r AS (SELECT w1, w2, c,
                         row_number() OVER (PARTITION BY w1
                             ORDER BY c DESC, w2) AS rk
                  FROM big)
            SELECT w1, w2, c, CAST(rk AS INT) AS rk FROM r
            WHERE rk <= 3
        """,
        "q108_eval_sample": f"""
            WITH h AS (SELECT source, doc_id, n_chars,
                              {md5_int_sql("CAST(doc_id AS VARCHAR)",
                                           salt="sample:")} AS h
                       FROM documents),
            r AS (SELECT source, doc_id, n_chars,
                         row_number() OVER (PARTITION BY source
                             ORDER BY h, doc_id) AS rk
                  FROM h)
            SELECT source, doc_id, n_chars, CAST(rk AS INT) AS rk
            FROM r WHERE rk <= 5
        """,
        "q106_source_overlap": """
            WITH sw AS (SELECT DISTINCT source, word
                        FROM (SELECT source, unnest(
                                  regexp_split_to_array(
                                      lower(trim(text)), '\\s+')) AS word
                              FROM documents)
                        WHERE word <> ''),
            i AS (SELECT a.source AS s1, b.source AS s2,
                         CAST(count(*) AS BIGINT) AS inter
                  FROM sw a JOIN sw b
                    ON a.word = b.word AND a.source < b.source
                  GROUP BY 1, 2),
            z AS (SELECT source, CAST(count(*) AS BIGINT) AS n_words
                  FROM sw GROUP BY 1)
            SELECT s1, s2, inter,
                   CAST(inter * 1000000
                        // (z1.n_words + z2.n_words - inter) AS BIGINT)
                       AS jac_ppm
            FROM i JOIN z z1 ON z1.source = i.s1
                   JOIN z z2 ON z2.source = i.s2
        """,
        "q105_source_risk": f"""
            WITH withpii AS (SELECT source, {_PII_TEXT_SQL} AS text
                             FROM documents),
            f AS (SELECT source,
                         CASE WHEN ({" + ".join(
                             s for s, _ in
                             TX.pii_counts_sql('text'))}) > 0
                              THEN 1 ELSE 0 END AS pii,
                         CASE WHEN {TX.quality_score_sql('text')} < 60
                              THEN 1 ELSE 0 END AS lowq,
                         CASE WHEN {TX.lang_id_sql('text')} <> 'en'
                              THEN 1 ELSE 0 END AS nonen
                  FROM withpii)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(pii) AS BIGINT) AS n_pii_docs,
                   CAST(sum(pii) * 1000000 // count(*) AS BIGINT)
                       AS pii_ppm,
                   CAST(sum(lowq) * 1000000 // count(*) AS BIGINT)
                       AS lowq_ppm,
                   CAST(sum(nonen) * 1000000 // count(*) AS BIGINT)
                       AS nonen_ppm
            FROM f GROUP BY 1
        """,
        # power-of-two half-life: weight = 2^20 >> (age_days div 7),
        # age anchored at the newest event DAY (1-row broadcast)
        "q92_recency_decay": """
            WITH mx AS (SELECT max(CAST(ts AS DATE)) AS maxd
                        FROM events),
            w AS (SELECT event_type,
                         CAST(1048576 AS BIGINT)
                             >> CAST(least(date_diff('day',
                                               CAST(ts AS DATE), maxd)
                                           // 7, 62) AS INT) AS w
                  FROM events CROSS JOIN mx)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(w) AS BIGINT) AS decayed
            FROM w GROUP BY 1
        """,
        # exploded-offset equi-join == the b.idx in (a.idx+1 ..
        # a.idx+5) join; weights 60 // d are exact for d <= 5
        "q96_cooccurrence": """
            WITH t AS (SELECT doc_id, regexp_split_to_array(
                           lower(trim(text)), '\\s+') AS w
                       FROM documents),
            ctx AS (SELECT doc_id, unnest(w) AS word,
                           generate_subscripts(w, 1) - 1 AS idx
                    FROM t),
            c2 AS (SELECT * FROM ctx WHERE word <> ''),
            p AS (SELECT a.word AS wa, b.word AS wb,
                         b.idx - a.idx AS d
                  FROM c2 a JOIN c2 b
                    ON a.doc_id = b.doc_id
                   AND b.idx > a.idx AND b.idx <= a.idx + 5)
            SELECT least(wa, wb) AS w1, greatest(wa, wb) AS w2,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(60 // d) AS BIGINT) AS w_sum
            FROM p GROUP BY 1, 2 HAVING count(*) >= 5
        """,
        "q99_degree_histogram": """
            WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
                                           l_suppkey * 2 + 1 AS s
                           FROM lineitem),
            deg AS (SELECT node, count(*) AS deg
                    FROM (SELECT p AS node FROM pairs
                          UNION ALL SELECT s FROM pairs)
                    GROUP BY 1)
            SELECT CAST(length(bin(deg)) AS INT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(min(deg) AS BIGINT) AS min_deg,
                   CAST(max(deg) AS BIGINT) AS max_deg
            FROM deg GROUP BY 1
        """,
        # the histogram gate's row set == the full-sort gate's row set
        # (see quality_gate_histogram docstring), so the oracle IS the
        # plain rank form: rk < ceil(n * 1 / 4)
        "q95_quality_hist_gate": """
            WITH r AS (SELECT source, doc_id, n_chars,
                              row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) - 1
                                  AS rk,
                              count(*) OVER (PARTITION BY source) AS n
                       FROM documents)
            SELECT source, doc_id, n_chars FROM r
            WHERE rk < (n * 1 + 3) // 4
        """,
        "q83_fuzzy_alias": """
            WITH f AS (SELECT DISTINCT lower(c_name) AS n,
                              substr(lower(c_name), 1, 16) AS blk
                       FROM customer WHERE c_custkey <= 500),
            p AS (SELECT a.n AS n1, b.n AS n2,
                         levenshtein(a.n, b.n) AS dist
                  FROM f a JOIN f b
                    ON a.blk = b.blk AND a.n < b.n
                   AND abs(length(a.n) - length(b.n)) <= 1)
            SELECT n1, n2, CAST(dist AS INT) AS dist
            FROM p WHERE dist <= 1
        """,
        "q84_importance_weights": f"""
            WITH tok AS (SELECT doc_id, lang = 'en' AS t,
                                unnest(regexp_split_to_array(
                                    lower(trim(text)), '\\s+')) AS word
                         FROM documents),
            tk AS (SELECT doc_id, t, word,
                          ({md5_int_sql('word', salt='dsir:')}) % 64 AS b
                   FROM tok WHERE word <> ''),
            c AS (SELECT b, count(*) AS cr,
                         sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct
                  FROM tk GROUP BY 1),
            tt AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM c),
            w AS (SELECT b,
                         length(bin((ct + 1) * (nr + 64)))
                         - length(bin((cr + 1) * (nt + 64))) AS w
                  FROM c CROSS JOIN tt)
            SELECT CAST(tk.doc_id AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_toks,
                   CAST(sum(w.w) AS BIGINT) AS score
            FROM tk JOIN w USING (b) GROUP BY 1
        """,
        # q154: the unrolled-LPA chain + modularity arithmetic (the
        # +W^2 shift keeps the dividend non-negative -> div == //)
        "q154_modularity": _lpa_oracle_sql(
            iters=2, final=_MODULARITY_FINAL),
        "q164_graph_contraction": _lpa_oracle_sql(
            iters=2, final=_CONTRACTION_FINAL),
        # q169: nested-subset vocabulary growth, one conditional agg
        "q169_heaps_law": f"""
            WITH t AS (
                SELECT doc_id,
                       ({md5_int_sql("CAST(doc_id AS VARCHAR)",
                                     salt="heaps:")}) % 4 AS h,
                       unnest(regexp_split_to_array(regexp_replace(
                           lower(trim(text)), '\\s+', ' ', 'g'), ' '))
                           AS term
                FROM documents),
            tt AS (SELECT * FROM t WHERE term <> ''),
            agg AS (SELECT
                count(DISTINCT CASE WHEN h < 1 THEN doc_id END) AS d1,
                sum(CASE WHEN h < 1 THEN 1 ELSE 0 END) AS t1,
                count(DISTINCT CASE WHEN h < 1 THEN term END) AS v1,
                count(DISTINCT CASE WHEN h < 2 THEN doc_id END) AS d2,
                sum(CASE WHEN h < 2 THEN 1 ELSE 0 END) AS t2,
                count(DISTINCT CASE WHEN h < 2 THEN term END) AS v2,
                count(DISTINCT doc_id) AS d4,
                count(*) AS t4,
                count(DISTINCT term) AS v4
                FROM tt)
            SELECT 1 AS level, CAST(d1 AS BIGINT) AS n_docs,
                   CAST(t1 AS BIGINT) AS n_tokens,
                   CAST(v1 AS BIGINT) AS vocab FROM agg
            UNION ALL
            SELECT 2, CAST(d2 AS BIGINT), CAST(t2 AS BIGINT),
                   CAST(v2 AS BIGINT) FROM agg
            UNION ALL
            SELECT 4, CAST(d4 AS BIGINT), CAST(t4 AS BIGINT),
                   CAST(v4 AS BIGINT) FROM agg
        """,
        # q171: sorted-neighborhood blocking — ONE global row_number
        # window (the oracle affords what the engine must not)
        "q171_sorted_neighborhood": """
            WITH base AS (
                SELECT substr(regexp_replace(lower(trim(text)), '\\s+',
                              ' ', 'g'), 1, 16) AS blk,
                       CAST(doc_id AS BIGINT) AS doc_id
                FROM documents),
            ranked AS (
                SELECT blk, doc_id,
                       row_number() OVER (ORDER BY blk, doc_id) AS rn
                FROM base)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.blk AS key_a, b.blk AS key_b,
                   CAST(b.rn - a.rn AS INT) AS gap
            FROM ranked a JOIN ranked b
              ON b.rn > a.rn AND b.rn <= a.rn + 3
        """,
        "q173_ktruss": ktruss_sql,
        "q177_mis": mis_sql,
        "q197_boruvka_mst": mst_sql,
        "q198_densest": peel_sql,
        "q206_temporal_reach": temporal_sql,
        "q208_scd2_history": f"""
            WITH b AS (
              SELECT doc_id, text,
                     ({md5_int_sql("CAST(doc_id AS VARCHAR)",
                                   salt="sc:")} % 7 = 0) AS ch,
                     ({md5_int_sql("CAST(doc_id AS VARCHAR)",
                                   salt="sd:")} % 11 = 3) AS del,
                     ({md5_int_sql("CAST(doc_id AS VARCHAR)",
                                   salt="sa:")} % 13 = 5) AS ad
              FROM documents)
            SELECT url, fp, CAST(valid_from AS BIGINT) AS valid_from,
                   CAST(valid_to AS BIGINT) AS valid_to
            FROM (
              SELECT 'd:' || CAST(doc_id AS VARCHAR) AS url,
                     md5(text) AS fp, 1 AS valid_from,
                     CASE WHEN del OR ch THEN 2 END AS valid_to
              FROM b
              UNION ALL
              SELECT 'd:' || CAST(doc_id AS VARCHAR),
                     md5(text || '#v2'), 2, NULL
              FROM b WHERE ch AND NOT del
              UNION ALL
              SELECT 'd:' || CAST(doc_id + 1000000 AS VARCHAR),
                     md5('new:' || CAST(doc_id AS VARCHAR)), 2, NULL
              FROM b WHERE ad)
        """,
        "q209_textrank": _textrank_oracle_sql(iters=3, n_stop=8),
        "q210_zorder_layout": _zorder_oracle_sql(),
        "q212_spam_mass": _spam_mass_oracle_sql(),
        "q213_rand_ari": _ARI_ORACLE_SQL,
        "q220_reshard": _reshard_oracle_sql(),
        "q223_neyman": _neyman_oracle_sql(),
        "q228_fresh_rank": _fresh_rank_oracle_sql(),
        "q188_merge_matching": matching_sql,
        # q192: suffix-prefix boundary join over the injected stitch
        # grams — same split convention as q08, k = 4 hardcoded to
        # match suffix_prefix_stitch's default (DuckDB slices are
        # 1-based and end-inclusive)
        "q192_stitch": f"""
            WITH t AS (SELECT doc_id, {_stitch_sql} AS tx
                       FROM documents),
            tok AS (SELECT doc_id,
                           regexp_split_to_array(trim(tx), '\\s+') AS t
                    FROM t),
            b AS (SELECT doc_id, t FROM tok WHERE len(t) >= 8),
            sfx AS (SELECT doc_id AS doc_a,
                           array_to_string(t[len(t)-3:len(t)], ' ')
                               AS boundary
                    FROM b),
            pfx AS (SELECT doc_id AS doc_b,
                           array_to_string(t[1:4], ' ') AS boundary
                    FROM b)
            SELECT CAST(doc_a AS BIGINT) AS doc_a,
                   CAST(doc_b AS BIGINT) AS doc_b, boundary
            FROM sfx JOIN pfx USING (boundary)
            WHERE doc_a <> doc_b
            ORDER BY 1, 2
        """,
        # q180: embedding-level decontamination — floor-clip int8
        # quantization, cosine >= 3/10 by integer
        # cross-multiplication of squares (no sqrt, no float div)
        "q180_semantic_decon": """
            WITH qz AS (SELECT vec_id,
                               list_transform(embedding,
                                   x -> CAST(greatest(-128, least(127,
                                        floor(CAST(x AS DOUBLE) * 127)))
                                        AS BIGINT)) AS qe
                        FROM embeddings),
            bench AS (SELECT vec_id AS bid, qe AS bqe,
                             list_sum(list_transform(qe, x -> x * x))
                                 AS bn2
                      FROM qz WHERE vec_id % 41 = 0),
            corp AS (SELECT vec_id, qe,
                            list_sum(list_transform(qe, x -> x * x))
                                AS cn2
                     FROM qz WHERE vec_id % 41 <> 0),
            pairs AS (SELECT c.vec_id, b.bid,
                             list_sum(list_transform(
                                 range(1, len(c.qe) + 1),
                                 i -> c.qe[i] * b.bqe[i])) AS dot,
                             c.cn2, b.bn2
                      FROM corp c CROSS JOIN bench b)
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   CAST(count(*) AS BIGINT) AS n_hits,
                   CAST(max(dot) AS BIGINT) AS max_dot
            FROM pairs
            WHERE dot > 0 AND dot * dot * 100 >= 9 * cn2 * bn2
            GROUP BY 1
        """,
        # q184: deterministic Poisson(1) weights (md5 -> CDF ppm
        # ladder), B=200 replicate means, percentile ranks 5/195
        "q184_bootstrap_ci": f"""
            WITH v AS (SELECT doc_id, {qual_sql} AS q FROM documents),
            rep AS (SELECT r FROM range(0, 200) t(r)),
            wrows AS (SELECT v.q, rep.r,
                             {_boot_w} AS w
                      FROM v CROSS JOIN rep),
            means AS (SELECT r, (sum(w * q) * 1000000)
                                // greatest(sum(w), 1) AS m
                      FROM wrows GROUP BY 1),
            rk AS (SELECT m, row_number() OVER (ORDER BY m, r) AS rk
                   FROM means),
            ci AS (SELECT min(CASE WHEN rk = 5 THEN m END) AS lo,
                          min(CASE WHEN rk = 195 THEN m END) AS hi
                   FROM rk)
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(200 AS BIGINT) AS n_reps,
                   CAST((sum(q) * 1000000) // greatest(count(*), 1)
                        AS BIGINT) AS mean_ppm,
                   CAST((SELECT lo FROM ci) AS BIGINT) AS ci_lo_ppm,
                   CAST((SELECT hi FROM ci) AS BIGINT) AS ci_hi_ppm
            FROM v
        """,
        # q185: z=2 Wilson lower bound via the shared isqrt ladder,
        # strata = doc_id bit-length classes, q39 keep rule
        "q185_wilson": f"""
            WITH s AS (SELECT 'c' || CAST(length(bin(doc_id)) AS VARCHAR)
                               AS stratum,
                              CASE WHEN {lang_sql} = 'en'
                                        AND {qual_sql} >= 60
                                   THEN 1 ELSE 0 END AS keep
                       FROM documents),
            g AS (SELECT stratum, count(*) AS n_docs,
                         sum(keep) AS n_pos
                  FROM s GROUP BY 1)
            SELECT stratum, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_pos AS BIGINT) AS n_pos,
                   CAST((n_pos * 1000000) // n_docs AS BIGINT)
                       AS rate_ppm,
                   CAST((1000000 * (n_pos + 2) * n_docs
                         - 2000000 * {_wilson_root})
                        // (n_docs * (n_docs + 4)) AS BIGINT)
                       AS wilson_lb_ppm
            FROM g
        """,
        # q186: Hearst 'such as' / 'and other' templates over the
        # injected text — same regex bytes as the Spark side
        "q186_hearst": f"""
            WITH t AS (SELECT doc_id, lower({_hearst_sql}) AS tx
                       FROM documents),
            m1 AS (SELECT doc_id,
                          unnest(regexp_extract_all(tx,
                              '{_HEARST_P1}')) AS m
                   FROM t),
            p1 AS (SELECT 'such_as' AS pattern, doc_id,
                          regexp_extract(m, '{_HEARST_P1}', 1)
                              AS hypernym,
                          unnest(string_split_regex(
                              regexp_extract(m, '{_HEARST_P1}', 2),
                              '{_HEARST_SPLIT}')) AS hyponym
                   FROM m1),
            m2 AS (SELECT doc_id,
                          unnest(regexp_extract_all(tx,
                              '{_HEARST_P2}')) AS m
                   FROM t),
            p2 AS (SELECT 'and_other' AS pattern, doc_id,
                          regexp_extract(m, '{_HEARST_P2}', 2)
                              AS hypernym,
                          unnest(string_split_regex(
                              regexp_extract(m, '{_HEARST_P2}', 1),
                              '{_HEARST_SPLIT}')) AS hyponym
                   FROM m2),
            u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
            SELECT pattern, hypernym, hyponym,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM u
            WHERE hypernym <> '' AND hyponym <> ''
            GROUP BY 1, 2, 3
        """,
        # q176: path-chain components — ground truth is analytic
        # (chain component = min id of the residue class), no
        # recursion needed; the ENGINE side does real O(log n) CC
        "q176_star_cc": """
            WITH e AS (
                SELECT a.event_id AS src, b.event_id AS dst
                FROM events a JOIN events b
                  ON b.event_id = a.event_id + 8),
            verts AS (SELECT src AS id FROM e
                      UNION SELECT dst FROM e)
            SELECT CAST(id AS BIGINT) AS id,
                   CAST(min(id) OVER (PARTITION BY id % 8) AS BIGINT)
                       AS comp
            FROM verts
        """,
        # q165: the same arithmetic as epoch_allocation, step by step
        "q165_epoch_allocation": """
            WITH s AS (SELECT coalesce(lang, 'unk') AS k,
                              CAST(sum(n_chars) AS BIGINT) AS t
                       FROM documents GROUP BY 1),
            s2 AS (SELECT k, t, CAST(1 AS BIGINT) AS w,
                          t * 4 AS cap FROM s),
            tot AS (SELECT sum(w) AS tw, sum(cap) AS tc FROM s2),
            base AS (SELECT k, t, cap, tw, tc,
                            least(cap, (1000000 * w) // tw) AS take0
                     FROM s2, tot),
            l0 AS (SELECT least(1000000, max(tc)) - sum(take0)
                       AS left0 FROM base),
            head AS (SELECT b.*, left0, cap - take0 AS hr
                     FROM base b, l0),
            htt AS (SELECT sum(hr) AS ht FROM head),
            fl AS (SELECT h.*, ht,
                          CASE WHEN ht > 0
                               THEN least(hr, (left0 * hr) // ht)
                               ELSE 0 END AS add1
                   FROM head h, htt),
            fl2 AS (SELECT *,
                           CASE WHEN ht > 0 AND hr > add1
                                THEN (left0 * hr) % ht
                                ELSE -1 END AS rem
                    FROM fl),
            l1 AS (SELECT max(left0) - sum(add1) AS left1 FROM fl2),
            rk AS (SELECT f.*,
                          row_number() OVER (ORDER BY rem DESC, k ASC)
                              AS rk, left1
                   FROM fl2 f, l1),
            fin AS (SELECT k, t, cap, tc,
                           take0 + add1
                           + CASE WHEN rk <= left1 AND rem >= 0
                                  THEN 1 ELSE 0 END AS take
                    FROM rk)
            SELECT k AS source, t AS tokens,
                   CAST(cap AS BIGINT) AS cap,
                   CAST(take AS BIGINT) AS take_tokens,
                   CAST((take * 1000) // t AS BIGINT) AS epochs_milli,
                   CAST(greatest(0, 1000000 - tc) AS BIGINT)
                       AS budget_unmet
            FROM fin
        """,
        # q163: level-wise a-priori twin, same pruning order
        "q163_itemsets": """
            WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
                        FROM lineitem JOIN part
                          ON p_partkey = l_partkey),
            l1 AS (SELECT i FROM bi GROUP BY 1
                   HAVING count(*) >= 50),
            bi1 AS (SELECT b.b, b.i FROM bi b JOIN l1 USING (i)),
            l2 AS (SELECT x.i AS a, y.i AS c FROM bi1 x
                   JOIN bi1 y ON y.b = x.b AND x.i < y.i
                   GROUP BY 1, 2 HAVING count(*) >= 50),
            c3 AS (SELECT p.a AS ia, p.c AS ib, q.c AS ic
                   FROM l2 p JOIN l2 q
                     ON q.a = p.a AND p.c < q.c
                   WHERE EXISTS (SELECT 1 FROM l2 z
                                 WHERE z.a = p.c AND z.c = q.c)),
            sup AS (SELECT c3.ia AS item_a, c3.ib AS item_b,
                           c3.ic AS item_c,
                           count(DISTINCT t1.b) AS support
                    FROM c3
                    JOIN bi1 t1 ON t1.i = c3.ia
                    JOIN bi1 t2 ON t2.b = t1.b AND t2.i = c3.ib
                    JOIN bi1 t3 ON t3.b = t1.b AND t3.i = c3.ic
                    GROUP BY 1, 2, 3)
            SELECT item_a, item_b, item_c,
                   CAST(support AS BIGINT) AS support
            FROM sup WHERE support >= 50
        """,
        # q155: PARIS alignment — same stack/drop/df-cap/packed-argmax
        # chain; cap = 2^32
        "q155_entity_alignment": f"""
            WITH pa AS (
                SELECT p_partkey AS subj, 'name' AS pred,
                       p_name AS obj
                FROM part WHERE p_partkey <= 2000
                UNION ALL
                SELECT p_partkey, 'brand', p_brand
                FROM part WHERE p_partkey <= 2000
                UNION ALL
                SELECT p_partkey, 'ptype', p_type
                FROM part WHERE p_partkey <= 2000),
            a AS (SELECT DISTINCT pred, obj, subj AS subj_a FROM pa),
            pb AS (SELECT subj AS subj0, pred, obj FROM pa
                   WHERE ({md5_int_sql(
                       "concat_ws(':', subj, pred, obj)",
                       salt="align:")}) % 10 < 7),
            b AS (SELECT DISTINCT pred, obj,
                         subj0 + 10000000 AS subj_b FROM pb),
            ap AS (SELECT DISTINCT pred, subj, obj FROM pa),
            wt AS (SELECT pred,
                          ((count(DISTINCT obj) * 1000000)
                           // count(*)) // 1000 AS w_milli
                   FROM ap GROUP BY 1),
            dfa AS (SELECT pred, obj FROM a
                    GROUP BY 1, 2 HAVING count(*) <= 64),
            dfb AS (SELECT pred, obj FROM b
                    GROUP BY 1, 2 HAVING count(*) <= 64),
            keys AS (SELECT pred, obj
                     FROM dfa JOIN dfb USING (pred, obj)),
            sh AS (SELECT b.subj_b, a.subj_a, w.w_milli
                   FROM a JOIN keys USING (pred, obj)
                          JOIN b USING (pred, obj)
                          JOIN wt w USING (pred)),
            sc AS (SELECT subj_b, subj_a,
                          sum(w_milli) AS score
                   FROM sh GROUP BY 1, 2),
            best AS (SELECT subj_b AS entity_b,
                            max(score * 4294967296
                                + (4294967295 - subj_a)) AS p,
                            count(*) AS n_partners
                     FROM sc GROUP BY 1)
            SELECT CAST(entity_b AS BIGINT) AS entity_b,
                   CAST(4294967295 - (p & 4294967295) AS BIGINT)
                       AS entity_a,
                   CAST(p // 4294967296 AS BIGINT) AS score_milli,
                   CAST(n_partners AS BIGINT) AS n_partners
            FROM best
        """,
        "q156_type_propagation": _typeprop_oracle_sql(iters=2),
        "q157_edge_cut": f"""
            WITH e AS (SELECT DISTINCT l_partkey * 2 AS src,
                              l_suppkey * 2 + 1 AS dst
                       FROM lineitem),
            c AS (SELECT
                    CAST(count(*) AS BIGINT) AS n_edges,
                    sum(CASE WHEN ({md5_int_sql("src", salt="cut:")})
                             % 32 <> ({md5_int_sql("dst", salt="cut:")})
                             % 32 THEN 1 ELSE 0 END) AS cut_hash,
                    sum(CASE WHEN src // 4096 <> dst // 4096
                             THEN 1 ELSE 0 END) AS cut_range,
                    sum(CASE WHEN src % 8 <> dst % 8
                             THEN 1 ELSE 0 END) AS cut_mod
                  FROM e)
            SELECT 'hash32' AS layout, n_edges,
                   CAST(cut_hash AS BIGINT) AS cut_edges,
                   CAST((cut_hash * 1000000) // n_edges AS BIGINT)
                       AS cut_ppm
            FROM c
            UNION ALL
            SELECT 'range4096', n_edges, CAST(cut_range AS BIGINT),
                   CAST((cut_range * 1000000) // n_edges AS BIGINT)
            FROM c
            UNION ALL
            SELECT 'mod8', n_edges, CAST(cut_mod AS BIGINT),
                   CAST((cut_mod * 1000000) // n_edges AS BIGINT)
            FROM c
        """,
        "q190_betweenness": _betweenness_oracle_sql(radius=3),
        "q193_coverage_selection": _coverage_oracle_sql(COVER_K),
        "q195_url_templates": _url_templates_oracle_sql(),
        "q203_jsonl_ledger": f"""
            WITH b AS (
              SELECT doc_id, text, doc_id % {JSONL_FILES} AS shard,
                     ({md5_int_sql("CAST(doc_id AS VARCHAR)",
                                   salt="jc:")} % 41 = 0) AS bad
              FROM documents)
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(sum(CASE WHEN bad THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_good,
                   CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_corrupt,
                   CAST(sum(CASE WHEN bad THEN 0 ELSE doc_id END)
                        AS BIGINT) AS sum_ids,
                   CAST(sum(CASE WHEN bad THEN 0 ELSE
                            {md5_int_sql("text")} % 4294967296 END)
                        AS BIGINT) AS payload_sum
            FROM b GROUP BY 1
        """,
        "q202_good_turing": """
            WITH t AS (SELECT list_filter(regexp_split_to_array(
                                  lower(trim(text)), '\\s+'),
                                  s -> s <> '') AS w
                       FROM documents),
            tok AS (SELECT unnest(w) AS word FROM t),
            c AS (SELECT word, count(*) AS n FROM tok GROUP BY 1),
            nr AS (SELECT n AS r, count(*) AS n_types
                   FROM c GROUP BY 1)
            SELECT CAST(nr.r AS BIGINT) AS r,
                   CAST(nr.n_types AS BIGINT) AS n_types,
                   CAST(coalesce(
                       ((nr.r + 1) * nx.n_next * 1000000)
                           // nr.n_types, 0) AS BIGINT) AS gt_ppm
            FROM nr LEFT JOIN
                 (SELECT r - 1 AS r, n_types AS n_next FROM nr) nx
                 USING (r)
        """,
        "q200_pareto": """
            WITH t AS (SELECT doc_id,
                              list_filter(regexp_split_to_array(
                                  lower(trim(text)), '\\s+'),
                                  s -> s <> '') AS w
                       FROM documents),
            m AS (SELECT doc_id, len(w) AS n_tokens,
                         len(list_distinct(w)) AS nd
                  FROM t WHERE len(w) > 0),
            p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                         CAST(n_tokens AS BIGINT) AS n_tokens,
                         CAST((nd * 1000000) // n_tokens AS BIGINT)
                             AS ldiv_ppm
                  FROM m)
            SELECT p.doc_id, p.n_tokens, p.ldiv_ppm FROM p
            WHERE NOT EXISTS (
              SELECT 1 FROM p q
              WHERE q.n_tokens >= p.n_tokens
                AND q.ldiv_ppm >= p.ldiv_ppm
                AND (q.n_tokens > p.n_tokens
                     OR q.ldiv_ppm > p.ldiv_ppm))
        """,
        "q159_warm_pagerank": _warm_pr_oracle_sql(old_iters=2),
        "q161_wl_classes": _wl_oracle_sql(iters=2),
        # q162: ground-truth SCC from the recursive transitive
        # closure (mutual reachability -> min partner id); the WITH
        # RECURSIVE must prefix the whole chain (DuckDB rule)
        "q162_scc": """
            WITH RECURSIVE n AS (
                SELECT CAST(c_custkey AS BIGINT) AS i FROM customer
                WHERE c_custkey BETWEEN 1 AND 300),
            e AS (
                SELECT i AS src,
                       CASE WHEN i % 10 = 0 THEN i - 9
                            ELSE i + 1 END AS dst FROM n
                UNION ALL
                SELECT i, i + 10 FROM n
                WHERE i % 20 = 5 AND i + 10 <= 300
                UNION ALL
                SELECT i, i - 10 FROM n
                WHERE i % 40 = 15 AND i - 10 >= 1),
            r(src, dst) AS (
                SELECT src, dst FROM e
                UNION
                SELECT r.src, e.dst FROM r JOIN e ON e.src = r.dst),
            mutual AS (
                SELECT a.src AS u, a.dst AS v
                FROM r a JOIN r b ON b.src = a.dst AND b.dst = a.src),
            mn AS (SELECT u, min(v) AS m FROM mutual GROUP BY 1)
            SELECT n.i AS node,
                   CAST(coalesce(least(mn.m, n.i), n.i) AS BIGINT)
                       AS scc_id
            FROM n LEFT JOIN mn ON mn.u = n.i
        """,
        # q160: the q67 chunking CTE + deterministic bucket negatives
        "q160_contrastive_pairs": f"""
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(regexp_replace(
                                  lower(trim(text)), '\\s+', ' ', 'g'),
                                  ' ') AS w
                       FROM documents),
            s AS (SELECT doc_id, w,
                         unnest(range(0, greatest(len(w), 1), 24)) AS st
                  FROM t),
            c AS (SELECT doc_id, CAST(st // 24 AS INT) AS chunk_idx,
                         array_to_string(
                             w[st + 1 : least(st + 32, len(w))], ' ')
                             AS ct
                  FROM s WHERE st < len(w)),
            ch AS (SELECT doc_id, chunk_idx,
                          {md5_int_sql('ct')} AS chunk_fp
                   FROM c WHERE ct <> ''),
            chb AS (SELECT *,
                           ({md5_int_sql(
                               "concat_ws(':', doc_id, chunk_idx)",
                               salt="ctr:")}) % 64 AS nb
                    FROM ch),
            negf AS (SELECT nb, min(chunk_fp) AS neg_fp
                     FROM chb GROUP BY 1),
            negd AS (SELECT n.nb, n.neg_fp,
                            min(c2.doc_id) AS neg_doc
                     FROM negf n JOIN chb c2
                       ON c2.nb = n.nb AND c2.chunk_fp = n.neg_fp
                     GROUP BY 1, 2),
            anch AS (SELECT a.doc_id, a.chunk_idx,
                            a.chunk_fp AS anchor_fp,
                            p.chunk_fp AS pos_fp,
                            ({md5_int_sql(
                                "concat_ws(':', a.doc_id, a.chunk_idx)",
                                salt="ctr:q")}) % 64 AS qb
                     FROM ch a JOIN ch p
                       ON p.doc_id = a.doc_id
                      AND p.chunk_idx = a.chunk_idx + 1)
            SELECT a.doc_id, a.chunk_idx, a.anchor_fp, a.pos_fp,
                   d.neg_fp
            FROM anch a JOIN negd d ON d.nb = a.qb
            WHERE d.neg_doc <> a.doc_id
        """,
        "q81_crawl_budget": """
            WITH c AS (SELECT l_suppkey AS host,
                              CAST(count(*) AS BIGINT) AS score
                       FROM lineitem GROUP BY 1),
            t AS (SELECT sum(score) AS tot FROM c),
            q AS (SELECT host, score,
                         (10000 * score) // tot AS base,
                         (10000 * score) % tot AS rem
                  FROM c CROSS JOIN t),
            lv AS (SELECT 10000 - sum(base) AS leftover FROM q),
            r AS (SELECT *, row_number() OVER (ORDER BY rem DESC,
                                               host ASC) AS rk
                  FROM q)
            SELECT CAST(host AS BIGINT) AS host, score,
                   CAST(base AS BIGINT) AS base,
                   CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                        AS BIGINT) AS slots
            FROM r CROSS JOIN lv
        """,
        "q80_kn_continuation": """
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(lower(trim(text)),
                                                    '\\s+') AS w
                       FROM documents),
            ctx AS (SELECT doc_id, unnest(w) AS word,
                           generate_subscripts(w, 1) - 1 AS idx
                    FROM t),
            c2 AS (SELECT * FROM ctx WHERE word <> ''),
            p AS (SELECT doc_id, word AS w1,
                         lead(word) OVER (PARTITION BY doc_id
                                          ORDER BY idx) AS w2
                  FROM c2),
            types AS (SELECT DISTINCT w1, w2 FROM p WHERE w2 IS NOT NULL),
            l AS (SELECT w2 AS word, count(*) AS cont_left
                  FROM types GROUP BY 1),
            r AS (SELECT w1 AS word, count(*) AS cont_right
                  FROM types GROUP BY 1),
            u AS (SELECT word, count(*) AS n_uni FROM c2
                  GROUP BY 1 HAVING count(*) >= 5)
            SELECT u.word, CAST(u.n_uni AS BIGINT) AS n_uni,
                   CAST(coalesce(l.cont_left, 0) AS BIGINT) AS cont_left,
                   CAST(coalesce(r.cont_right, 0) AS BIGINT) AS cont_right
            FROM u LEFT JOIN l ON l.word = u.word
            LEFT JOIN r ON r.word = u.word
        """,
        "q69_hash_split": f"""
            WITH b AS (SELECT {bucket_sql("CAST(doc_id AS VARCHAR)", 10,
                                          salt="split:")} AS b,
                              {TX.token_count_sql('text')} AS t,
                              {qual_sql} AS q
                       FROM documents)
            SELECT CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(t) AS BIGINT) AS sum_tokens,
                   CAST(sum(q) AS BIGINT) AS sum_quality
            FROM b GROUP BY 1
        """,
        # the composed cleaning->chunk->pack pipeline: same chunk CTE
        # as q67 over the gated+redacted text, same prefix-sum packing
        # arithmetic as q60 keyed by the composite chunk id
        "q72_training_prep": f"""
            WITH g AS (SELECT doc_id,
                              {TX.pii_redact_sql('text')} AS rtext
                       FROM documents WHERE {qual_sql} >= 60),
            t AS (SELECT doc_id,
                         regexp_split_to_array(regexp_replace(
                             lower(trim(rtext)), '\\s+', ' ', 'g'),
                             ' ') AS w
                  FROM g),
            s AS (SELECT doc_id, w,
                         unnest(range(0, greatest(len(w), 1), 24)) AS st
                  FROM t),
            c AS (SELECT doc_id, CAST(st // 24 AS INT) AS chunk_idx,
                         array_to_string(
                             w[st + 1 : least(st + 32, len(w))], ' ') AS ct
                  FROM s WHERE st < len(w)),
            ch AS (SELECT doc_id * 1024 + chunk_idx AS cid,
                          CAST(len(regexp_split_to_array(ct, ' '))
                               AS BIGINT) AS n_tokens
                   FROM c WHERE ct <> ''),
            n AS (SELECT cid, n_tokens,
                         {bucket_sql("CAST(cid AS VARCHAR)", 8,
                                     salt="pack:")} AS bucket
                  FROM ch),
            p AS (SELECT cid, bucket, n_tokens,
                         CAST(coalesce(sum(n_tokens) OVER (
                             PARTITION BY bucket ORDER BY cid
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS prev
                  FROM n)
            SELECT CAST(bucket AS INT) AS bucket,
                   CAST(prev // 128 AS BIGINT) AS bin_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
            FROM p GROUP BY 1, 2
        """,
        "q67_chunk_overlap": f"""
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(regexp_replace(
                                  lower(trim(text)), '\\s+', ' ', 'g'),
                                  ' ') AS w
                       FROM documents),
            s AS (SELECT doc_id, w,
                         unnest(range(0, greatest(len(w), 1), 24)) AS st
                  FROM t),
            c AS (SELECT doc_id, CAST(st // 24 AS INT) AS chunk_idx,
                         array_to_string(
                             w[st + 1 : least(st + 32, len(w))], ' ') AS ct
                  FROM s WHERE st < len(w))
            SELECT doc_id, chunk_idx,
                   CAST(len(regexp_split_to_array(ct, ' ')) AS INT)
                       AS chunk_toks,
                   {md5_int_sql('ct')} AS chunk_fp
            FROM c WHERE ct <> ''
        """,
        "q66_url_canonical": f"""
            WITH raw AS (SELECT doc_id, {_MESSY_URL_SQL} AS u
                         FROM documents)
            SELECT {TX.canonical_url_sql('u')} AS url,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS first_doc
            FROM raw GROUP BY 1
        """,
        "q33_neighbor_stats": stats_cte + """
            SELECT label, word, CAST(cnt AS BIGINT) AS cnt FROM stats
        """,
        # capped-product argmax (exact-integer twin of the reference's
        # log-smoothed neighbor sum; see kernel/stats.py docstring)
        "q34_context_argmax": stats_cte + f"""
            , tgt AS (SELECT doc_id, idx AS s FROM c2
                      WHERE word = '{STAT_TARGET}'),
            labels(n_label) AS (VALUES {stat_labels_values}),
            wtok AS (SELECT g.doc_id, g.s, c.word FROM tgt g JOIN c2 c
                      ON c.doc_id = g.doc_id
                     AND c.idx >= g.s - 3 AND c.idx < g.s + 1 + 3
                     AND c.idx <> g.s),
            hits AS (SELECT w.doc_id, w.s, st.label AS n_label,
                            least(st.cnt, 63) + 1 AS f
                     FROM wtok w JOIN stats st ON st.word = w.word),
            scores AS (SELECT doc_id, s, n_label, product(f) AS score
                       FROM hits GROUP BY 1, 2, 3),
            cand AS (SELECT g.doc_id, g.s, l.n_label,
                            coalesce(sc.score, 1) AS score
                     FROM tgt g CROSS JOIN labels l
                     LEFT JOIN scores sc
                       ON sc.doc_id = g.doc_id AND sc.s = g.s
                      AND sc.n_label = l.n_label),
            r AS (SELECT doc_id, s, n_label,
                         ROW_NUMBER() OVER (PARTITION BY doc_id, s
                             ORDER BY score DESC, n_label) AS rn
                  FROM cand)
            SELECT doc_id, CAST(s AS BIGINT) AS pos,
                   n_label AS best_label
            FROM r WHERE rn = 1
        """,
        # additive +-5 core+neighbor sum argmax (reference
        # delete_duplicate, the L12 second policy; anchor excluded)
        "q43_dup_argmax": stats_cte + f"""
            , cstats AS (SELECT label, label AS word, count(*) AS cnt
                         FROM m GROUP BY label),
            allstats AS (SELECT label, word, sum(cnt) AS cnt
                         FROM (SELECT label, word, cnt FROM stats
                               UNION ALL
                               SELECT label, word, cnt FROM cstats)
                         GROUP BY 1, 2),
            tgt AS (SELECT doc_id, idx AS s FROM c2
                    WHERE word = '{STAT_TARGET}'),
            labels(n_label) AS (VALUES {stat_labels_values}),
            wtok AS (SELECT g.doc_id, g.s, c.word FROM tgt g JOIN c2 c
                      ON c.doc_id = g.doc_id
                     AND c.idx >= g.s - 5 AND c.idx < g.s + 5
                     AND c.idx <> g.s),
            hits AS (SELECT w.doc_id, w.s, st.label AS n_label, st.cnt
                     FROM wtok w JOIN allstats st ON st.word = w.word),
            scores AS (SELECT doc_id, s, n_label, sum(cnt) AS score
                       FROM hits GROUP BY 1, 2, 3),
            cand AS (SELECT g.doc_id, g.s, l.n_label,
                            coalesce(sc.score, 0) AS score
                     FROM tgt g CROSS JOIN labels l
                     LEFT JOIN scores sc
                       ON sc.doc_id = g.doc_id AND sc.s = g.s
                      AND sc.n_label = l.n_label),
            r AS (SELECT doc_id, s, n_label, score,
                         ROW_NUMBER() OVER (PARTITION BY doc_id, s
                             ORDER BY score DESC, n_label) AS rn
                  FROM cand)
            SELECT doc_id, CAST(s AS BIGINT) AS pos,
                   n_label AS best_label, CAST(score AS BIGINT) AS d_score
            FROM r WHERE rn = 1
        """,
        # fused evidence scorer: BOTH scores per (target, label) — the
        # +-3 capped product over NEIGHBOR stats and the +-5 additive
        # sum over core+neighbor stats (anchor excluded in both)
        "q44_evidence_scores": stats_cte + f"""
            , cstats AS (SELECT label, label AS word, count(*) AS cnt
                         FROM m GROUP BY label),
            allstats AS (SELECT label, word, sum(cnt) AS cnt
                         FROM (SELECT label, word, cnt FROM stats
                               UNION ALL
                               SELECT label, word, cnt FROM cstats)
                         GROUP BY 1, 2),
            tgt AS (SELECT doc_id, idx AS s FROM c2
                    WHERE word = '{STAT_TARGET}'),
            labels(n_label) AS (VALUES {stat_labels_values}),
            wtokn AS (SELECT g.doc_id, g.s, c.word FROM tgt g JOIN c2 c
                       ON c.doc_id = g.doc_id
                      AND c.idx >= g.s - 3 AND c.idx < g.s + 1 + 3
                      AND c.idx <> g.s),
            nhits AS (SELECT w.doc_id, w.s, st.label AS n_label,
                             least(st.cnt, 63) + 1 AS f
                      FROM wtokn w JOIN stats st ON st.word = w.word),
            nscores AS (SELECT doc_id, s, n_label, product(f) AS n_score
                        FROM nhits GROUP BY 1, 2, 3),
            wtokd AS (SELECT g.doc_id, g.s, c.word FROM tgt g JOIN c2 c
                       ON c.doc_id = g.doc_id
                      AND c.idx >= g.s - 5 AND c.idx < g.s + 5
                      AND c.idx <> g.s),
            dhits AS (SELECT w.doc_id, w.s, st.label AS n_label, st.cnt
                      FROM wtokd w JOIN allstats st ON st.word = w.word),
            dscores AS (SELECT doc_id, s, n_label, sum(cnt) AS d_score
                        FROM dhits GROUP BY 1, 2, 3)
            SELECT g.doc_id, CAST(g.s AS BIGINT) AS pos,
                   l.n_label AS label,
                   CAST(coalesce(ns.n_score, 1) AS BIGINT) AS n_score,
                   CAST(coalesce(ds.d_score, 0) AS BIGINT) AS d_score
            FROM tgt g CROSS JOIN labels l
            LEFT JOIN nscores ns
              ON ns.doc_id = g.doc_id AND ns.s = g.s
             AND ns.n_label = l.n_label
            LEFT JOIN dscores ds
              ON ds.doc_id = g.doc_id AND ds.s = g.s
             AND ds.n_label = l.n_label
        """,
        "q45_repetition_ppm": f"""
            SELECT doc_id,
                   {TX.duplicate_ngram_ppm_sql('text', n=2)} AS rep_ppm
            FROM documents
        """,
        # sequential ID -> phone -> email redaction on the same
        # synthetic-PII injection expression the Spark side builds
        "q47_pii_redact": f"""
            WITH withpii AS (SELECT doc_id, {_PII_TEXT_SQL} AS text
                             FROM documents)
            SELECT doc_id,
                   {', '.join(f'{sql} AS {name}'
                              for sql, name in TX.pii_counts_sql('text'))},
                   {md5_int_sql(TX.pii_redact_sql('text'))} AS red_fp
            FROM withpii
        """,
        # 2-token-chunk "lines" (same slice truncation as the Spark
        # splitter), line df >= 25 across distinct docs -> dropped
        "q48_line_dedup": """
            WITH t AS (SELECT doc_id,
                              list_filter(regexp_split_to_array(
                                  lower(trim(text)), '\\s+'),
                                  x -> x <> '') AS w
                       FROM documents),
            c AS (SELECT doc_id,
                         list_filter(list_transform(
                             range(0, greatest((len(w) - 1) // 2, 0) + 1),
                             i -> array_to_string(
                                 w[i * 2 + 1 : least(i * 2 + 2, len(w))],
                                 ' ')),
                             g -> g <> '') AS lines
                  FROM t),
            l AS (SELECT doc_id, unnest(lines) AS line FROM c),
            f AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df
                                    FROM l GROUP BY 1) q
                  WHERE df >= 25)
            SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN f.line IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dropped
            FROM l LEFT JOIN f USING (line) GROUP BY 1
        """,
        # exactly-1..2-hop distinct reach per node, self excluded
        "q49_khop": """
            WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
                                           l_suppkey * 2 + 1 AS s
                           FROM lineitem),
            e AS (SELECT p AS src, s AS dst FROM pairs
                  UNION ALL SELECT s, p FROM pairs),
            r1 AS (SELECT DISTINCT src AS node, dst AS nbr FROM e),
            r2 AS (SELECT DISTINCT r1.node, e.dst AS nbr
                   FROM r1 JOIN e ON e.src = r1.nbr
                   WHERE e.dst <> r1.node),
            reach AS (SELECT node, nbr FROM r1
                      UNION SELECT node, nbr FROM r2)
            SELECT CAST(node AS BIGINT) AS node,
                   CAST(count(*) AS BIGINT) AS n_khop
            FROM reach WHERE nbr <> node GROUP BY 1
        """,
        # bit-length idf rarity (same integer log2 family as q38)
        "q53_surprisal": """
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(lower(trim(text)),
                                                    '\\s+') AS w
                       FROM documents),
            ctx AS (SELECT doc_id, unnest(w) AS word FROM t),
            c2 AS (SELECT * FROM ctx WHERE word <> ''),
            u AS (SELECT word, count(*) AS c FROM c2 GROUP BY 1),
            n AS (SELECT count(*) AS n_tok FROM c2),
            s AS (SELECT doc_id,
                         length(bin(CAST(n.n_tok // u.c AS BIGINT))) AS idf
                  FROM c2 JOIN u USING (word) CROSS JOIN n)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
                   CAST(sum(idf) AS BIGINT) AS sum_idf,
                   CAST((sum(idf) * 1000) // count(*) AS BIGINT)
                       AS rarity_milli
            FROM s GROUP BY 1
        """,
        # integer fixed-point PMI: (c_xy * N * 1e6) div (c_x * c_y)
        "q50_bigram_pmi": """
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(lower(trim(text)),
                                                    '\\s+') AS w
                       FROM documents),
            ctx AS (SELECT doc_id, unnest(w) AS word,
                           generate_subscripts(w, 1) - 1 AS idx
                    FROM t),
            c2 AS (SELECT * FROM ctx WHERE word <> ''),
            p AS (SELECT doc_id, word AS w1,
                         lead(word) OVER (PARTITION BY doc_id
                                          ORDER BY idx) AS w2
                  FROM c2),
            b AS (SELECT w1, w2, count(*) AS c_xy FROM p
                  WHERE w2 IS NOT NULL GROUP BY 1, 2
                  HAVING count(*) >= 5),
            u AS (SELECT word, count(*) AS c FROM c2 GROUP BY 1),
            n AS (SELECT count(*) AS n_tok FROM c2)
            SELECT b.w1, b.w2, CAST(b.c_xy AS BIGINT) AS c_xy,
                   CAST((b.c_xy * n.n_tok * 1000000) // (ux.c * uy.c)
                        AS BIGINT) AS pmi_ppm
            FROM b CROSS JOIN n
            JOIN u ux ON ux.word = b.w1
            JOIN u uy ON uy.word = b.w2
        """,
        # 5-token duplicated-window coverage (Lee et al. exact
        # substring dedup): same shingle semantics as q16 at k=5
        "q54_window_dedup": _shingle_cte(5) + """
            , dup AS (SELECT shingle
                      FROM (SELECT shingle, count(*) AS w_df
                            FROM sh GROUP BY 1) q
                      WHERE w_df >= 2)
            SELECT sh.doc_id,
                   CAST(count(*) AS BIGINT) AS n_windows,
                   CAST(sum(CASE WHEN dup.shingle IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                   CAST(sum(CASE WHEN dup.shingle IS NOT NULL
                            THEN 1 ELSE 0 END) * 1000000 // count(*)
                        AS BIGINT) AS dup_ppm
            FROM sh LEFT JOIN dup USING (shingle)
            GROUP BY 1
        """,
        # same portable hash, same per-language numerators
        "q55_stratified_sample": f"""
            SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents
            WHERE {SAMPLE_SQL_WHERE}
            GROUP BY 1
        """,
        # exact integer-rank top-25% gate: rank*4 < n (0-based rank
        # over score desc, doc_id asc — a total order in both engines)
        "q56_quality_gate": f"""
            WITH s AS (SELECT doc_id, lang, {qual_sql} AS q
                       FROM documents),
            r AS (SELECT doc_id, lang, q,
                         ROW_NUMBER() OVER (PARTITION BY lang
                                            ORDER BY q DESC, doc_id) - 1
                             AS rk,
                         count(*) OVER (PARTITION BY lang) AS n
                  FROM s)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(min(q) AS INT) AS min_q,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM r WHERE rk * 4 < n GROUP BY 1
        """,
        # wedge-join neighbor Jaccard over the q49 bipartite graph;
        # the center-degree cap (256) is mirrored from the Spark side
        "q58_neighbor_jaccard": """
            WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
                                           l_suppkey * 2 + 1 AS s
                           FROM lineitem),
            e AS (SELECT p AS src, s AS dst FROM pairs
                  UNION ALL SELECT s, p FROM pairs),
            adj1 AS (SELECT DISTINCT least(src, dst) AS node,
                                     greatest(src, dst) AS nbr
                     FROM e WHERE src <> dst),
            adj AS (SELECT node, nbr FROM adj1
                    UNION SELECT nbr, node FROM adj1),
            deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
            ctr AS (SELECT a.nbr AS center, a.node AS leaf
                    FROM adj a JOIN deg d ON d.node = a.nbr
                    WHERE d.deg <= 256),
            cm AS (SELECT a.leaf AS n1, b.leaf AS n2,
                          count(*) AS common
                   FROM ctr a JOIN ctr b
                     ON a.center = b.center AND a.leaf < b.leaf
                   GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT CAST(cm.n1 AS BIGINT) AS n1,
                   CAST(cm.n2 AS BIGINT) AS n2,
                   CAST(cm.common AS BIGINT) AS common,
                   CAST(cm.common * 1000000
                        // (d1.deg + d2.deg - cm.common) AS BIGINT)
                       AS jac_ppm
            FROM cm JOIN deg d1 ON d1.node = cm.n1
                    JOIN deg d2 ON d2.node = cm.n2
            ORDER BY jac_ppm DESC, n1, n2 LIMIT 100
        """,
        # concat-and-chunk packing: same hash bucket, same id-order
        # running sum, same integer div/mod slots
        "q60_pack_sequences": f"""
            WITH n AS (SELECT doc_id, {tok_sql} AS n_tokens,
                              {bucket_sql('CAST(doc_id AS VARCHAR)',
                                          PACK_BUCKETS, salt='pack:')}
                                  AS bucket
                       FROM documents),
            c AS (SELECT doc_id, bucket, n_tokens,
                         CAST(coalesce(sum(n_tokens) OVER (
                             PARTITION BY bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS prev
                  FROM n)
            SELECT doc_id, CAST(bucket AS INT) AS bucket,
                   CAST(prev // {PACK_BUDGET} AS BIGINT) AS bin_id,
                   CAST(prev % {PACK_BUDGET} AS BIGINT) AS start_off,
                   CAST((CASE WHEN n_tokens > 0
                         THEN (prev + n_tokens - 1) // {PACK_BUDGET}
                         ELSE prev // {PACK_BUDGET} END)
                        - prev // {PACK_BUDGET} AS BIGINT) AS spill_bins
            FROM c
        """,
        "q35_regex_entities": """
            WITH tagged AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '\\b(spark|query)\\b',
                                    '<\\1:TECH>', 'g') AS ttext
              FROM documents),
            ex AS (SELECT doc_id, ttext,
                          regexp_extract_all(ttext, '<([^:]+):([\\d\\w]+)>', 1) AS forms,
                          regexp_extract_all(ttext, '<([^:]+):([\\d\\w]+)>', 2) AS labels
                   FROM tagged),
            u AS (SELECT doc_id,
                         """ + _PLAIN_FP_SQL + """ AS plain_fp,
                         unnest(forms) AS form, unnest(labels) AS label,
                         generate_subscripts(forms, 1) - 1 AS pos
                  FROM ex)
            SELECT doc_id, CAST(pos AS INT) AS pos, form, label, plain_fp
            FROM u
        """,
        "q36_bio_export": """
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                       FROM documents),
            ctx AS (SELECT doc_id, unnest(w) AS word,
                           generate_subscripts(w, 1) - 1 AS idx
                    FROM t),
            c2 AS (SELECT * FROM ctx WHERE word <> ''),
            nxt AS (SELECT doc_id, idx, word,
                           lead(word) OVER (PARTITION BY doc_id ORDER BY idx) AS w2
                    FROM c2),
            m AS (
              SELECT doc_id, idx AS s, idx + 1 AS e, word AS lab
              FROM c2 WHERE word IN ('spark', 'query')
              UNION ALL
              SELECT doc_id, idx, idx + 2, 'hash_join' FROM nxt
              WHERE word = 'hash' AND w2 = 'join'
              UNION ALL
              SELECT doc_id, idx, idx + 2, 'table_scan' FROM nxt
              WHERE word = 'table' AND w2 = 'scan'
              UNION ALL
              SELECT doc_id, idx, idx + 2, 'window_agg' FROM nxt
              WHERE word = 'window' AND w2 = 'agg'),
            cov AS (SELECT doc_id, s, e, lab, unnest(range(s, e)) AS idx FROM m),
            lab AS (SELECT doc_id, idx,
                           CASE WHEN idx = s THEN 'B-' || lab
                                ELSE 'I-' || lab END AS bio,
                           ROW_NUMBER() OVER (PARTITION BY doc_id, idx
                               ORDER BY s, e DESC, lab) AS rn
                    FROM cov)
            SELECT c2.doc_id, CAST(c2.idx AS INT) AS idx, c2.word,
                   coalesce(l.bio, 'O') AS bio
            FROM c2 LEFT JOIN (SELECT * FROM lab WHERE rn = 1) l
              ON l.doc_id = c2.doc_id AND l.idx = c2.idx
        """,
        "q37_klue_ner": f"""
            WITH docs AS (SELECT unnest(document) AS d
                          FROM read_json('{KLUE_FIXTURE}')),
            sents AS (SELECT d.id AS doc_id, unnest(d.sentence) AS s,
                             generate_subscripts(d.sentence, 1) - 1 AS sent_idx
                      FROM docs),
            ne AS (SELECT doc_id, sent_idx, s.form AS form,
                          unnest(s."NE") AS n
                   FROM sents WHERE s.form <> '')
            SELECT doc_id, CAST(sent_idx AS INT) AS sent_idx, form,
                   n.form AS ne_form, n.label AS label,
                   CAST(n.begin AS INT) AS ne_begin,
                   CAST(n."end" AS INT) AS ne_end
            FROM ne
        """,
        "q38_tfidf_topk": """
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                       FROM documents),
            ctx AS (SELECT doc_id, unnest(w) AS word FROM t),
            c2 AS (SELECT * FROM ctx WHERE word <> ''),
            n AS (SELECT count(*) AS nd FROM documents),
            tf AS (SELECT doc_id, word, count(*) AS tf FROM c2 GROUP BY 1, 2),
            dfx AS (SELECT word, count(*) AS df FROM
                    (SELECT DISTINCT doc_id, word FROM c2) GROUP BY 1),
            scored AS (
              SELECT tf.doc_id, tf.word,
                     CAST(tf.tf * length(bin(CAST(floor(n.nd * 1.0 / dfx.df)
                          AS BIGINT))) AS BIGINT) AS tfidf
              FROM tf JOIN dfx USING (word), n),
            r AS (SELECT doc_id, word, tfidf,
                         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY tfidf DESC, word ASC) AS INT) AS rnk
                  FROM scored)
            SELECT doc_id, word, tfidf, rnk FROM r WHERE rnk <= 3
        """,
        "q39_clean_corpus": f"""
            WITH scored AS (
              SELECT doc_id,
                     {lang_sql} AS lang_pred,
                     {qual_sql} AS quality,
                     {fp_sql} AS fp
              FROM documents),
            kept AS (SELECT * FROM scored
                     WHERE lang_pred = 'en' AND quality >= 60),
            r AS (SELECT doc_id, quality, fp,
                         ROW_NUMBER() OVER (PARTITION BY fp
                             ORDER BY doc_id ASC) AS rn
                  FROM kept)
            SELECT doc_id, quality, fp FROM r WHERE rn = 1
        """,
        "q40_pagerank": """
            WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
                                  l_suppkey * 2 + 1 AS s FROM lineitem),
            e AS (SELECT p AS src, s AS dst FROM pairs
                  UNION ALL SELECT s, p FROM pairs),
            nodes AS (SELECT DISTINCT src AS node FROM e
                      UNION SELECT dst FROM e),
            od AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
            pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
            m1 AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
                   FROM e JOIN pr0 p ON p.node = e.src
                   JOIN od o ON o.src = e.src GROUP BY 1),
            pr1 AS (SELECT n.node,
                           CAST(150000 + (85 * coalesce(m1.m, 0)) // 100
                                AS BIGINT) AS pr
                    FROM nodes n LEFT JOIN m1 ON m1.node = n.node),
            m2 AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
                   FROM e JOIN pr1 p ON p.node = e.src
                   JOIN od o ON o.src = e.src GROUP BY 1),
            pr2 AS (SELECT n.node,
                           CAST(150000 + (85 * coalesce(m2.m, 0)) // 100
                                AS BIGINT) AS pr
                    FROM nodes n LEFT JOIN m2 ON m2.node = n.node),
            m3 AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
                   FROM e JOIN pr2 p ON p.node = e.src
                   JOIN od o ON o.src = e.src GROUP BY 1),
            pr3 AS (SELECT n.node,
                           CAST(150000 + (85 * coalesce(m3.m, 0)) // 100
                                AS BIGINT) AS pr
                    FROM nodes n LEFT JOIN m3 ON m3.node = n.node)
            SELECT CAST(node AS BIGINT) AS node, pr FROM pr3
        """,
        "q22_salt_distribution": f"""
            WITH counts AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
            m AS (SELECT avg(cnt) AS mean_cnt FROM counts),
            heads AS (SELECT event_type FROM counts, m WHERE cnt >= mean_cnt * 1.5),
            salted AS (
              SELECT e.event_type,
                     CASE WHEN h.event_type IS NOT NULL
                          THEN {md5_int_sql("CAST(e.event_id AS VARCHAR)")} % 8
                          ELSE 0 END AS salt
              FROM events e LEFT JOIN heads h ON e.event_type = h.event_type)
            SELECT event_type, count(DISTINCT salt) AS n_salts, count(*) AS total
            FROM salted GROUP BY event_type
        """,
    }


# banded sign keys (twin of operators.ann._band_key): band b, bit i
# (1-based) reads dim b + (i-1)*n_bands + 1
_BAND_IDX_VALUES = ", ".join(f"({b})" for b in range(LSH_BANDS))


def _band_key_sql(emb: str) -> str:
    return (f"CAST(coalesce(list_sum(list_transform(range(1, bits + 1), "
            f"i -> CASE WHEN {emb}[band_idx + (i - 1) * {LSH_BANDS} + 1] >= 0 "
            f"THEN 1 << (i - 1) ELSE 0 END)), 0) AS INT)")


def _ann_lsh_sql() -> str:
    # query-directed multi-probe twin of operators.ann.bucketed_topk:
    # per band, probe the query's key + single flips of the T1
    # lowest-|margin| bits + pair flips among the T2 lowest (exact
    # probe_keys() semantics incl. the (|margin| asc, bit asc)
    # tie-break); bits are scaled UP by the probe count and capped at
    # dim / n_bands (strided band independence)
    from python_mecab_ner_spark.operators.ann import (MULTIPROBE_PAIRS,
                                                      MULTIPROBE_SINGLES,
                                                      probes_per_band)
    t1, t2 = MULTIPROBE_SINGLES, MULTIPROBE_PAIRS
    ppb = probes_per_band(t1, t2)
    bits_mp = (f"p AS (SELECT greatest(1, least(least(16, "
               f"CAST((SELECT len(embedding) FROM embeddings "
               f"WHERE vec_id = 0) AS INT) // {LSH_BANDS}), "
               f"CAST(ceil(log2(greatest(count(*), 1) * {ppb} "
               f"/ {LSH_TARGET_BUCKET}.0)) AS INT))) AS bits "
               f"FROM embeddings)")
    return f"""
        WITH {bits_mp},
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        bands(band_idx) AS (VALUES {_BAND_IDX_VALUES}),
        bi AS (SELECT band_idx, CAST(unnest(range(0, bits)) AS INT) AS i
               FROM bands, p),
        mg AS (SELECT band_idx, i,
                      ROW_NUMBER() OVER (PARTITION BY band_idx
                          ORDER BY abs(qe[band_idx + i * {LSH_BANDS} + 1]),
                                   i) AS rk
               FROM bi, q),
        qk AS (SELECT band_idx, {_band_key_sql('qe')} AS key
               FROM q, p, bands),
        flips AS (
          SELECT band_idx, CAST(1 << i AS INT) AS f FROM mg
          WHERE rk <= {t1}
          UNION
          SELECT a.band_idx, CAST(xor(1 << a.i, 1 << b2.i) AS INT) AS f
          FROM mg a JOIN mg b2
            ON a.band_idx = b2.band_idx AND a.rk < b2.rk
          WHERE b2.rk <= {t2}),
        probe AS (
          SELECT band_idx, key FROM qk
          UNION
          SELECT qk.band_idx, CAST(xor(qk.key, fl.f) AS INT) AS key
          FROM qk JOIN flips fl USING (band_idx)),
        eb AS (SELECT vec_id, embedding, band_idx,
                      {_band_key_sql('embedding')} AS band_key
               FROM embeddings, p, bands),
        cand AS (SELECT DISTINCT e.vec_id, e.embedding
                 FROM eb e JOIN probe
                   ON e.band_idx = probe.band_idx
                  AND e.band_key = probe.key)
        SELECT vec_id FROM cand, q
        ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id
        LIMIT 10
    """
