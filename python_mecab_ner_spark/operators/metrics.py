"""Distributed evaluation jobs (reference L17: seqeval/sklearn F1 in
tests/f1_test.py + main.py:188-190, re-expressed as Spark
aggregations).

prf_report joins prediction and gold tables on their key columns and
reduces to one row of counts + P/R/F1 — two broadcast-free shuffles
on high-cardinality keys, linear at any corpus size.

gold_triples_df runs the NAIVE pyref oracle (kernel.pyref, a
per-entry nested-loop re-implementation of the reference scan kept
independent of the optimized AC matcher) distributed over the pages
table via mapInPandas: the P/R >= 0.95 gate (BASELINE.md) is computed
engine-vs-reference-semantics at corpus scale, not on a sample.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRIPLE_KEYS = ["url", "subj", "pred", "obj", "subj_start", "obj_start"]

GOLD_TRIPLE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("subj_start", T.IntegerType()),
    T.StructField("subj_end", T.IntegerType()),
    T.StructField("obj_start", T.IntegerType()),
    T.StructField("obj_end", T.IntegerType()),
])


def gold_triples_df(pages_df: DataFrame, gazetteer_rows_bc,
                    search_category=None, infer=True) -> DataFrame:
    """Pages -> reference-semantics gold triples via the naive pyref
    path, distributed (one Arrow batch per partition split)."""

    def gen(batches):
        from ..kernel.pyref import pyref_triples
        rows = gazetteer_rows_bc.value
        for pdf in batches:
            out = []
            for url, text in zip(pdf["url"], pdf["text"]):
                for t in pyref_triples(text or "", rows,
                                       search_category, infer):
                    out.append({"url": url, "subj": t[0], "pred": t[1],
                                "obj": t[2], "subj_start": t[3],
                                "subj_end": t[4], "obj_start": t[5],
                                "obj_end": t[6]})
            yield pd.DataFrame(out, columns=GOLD_TRIPLE_SCHEMA.fieldNames())

    return pages_df.select("url", "text").mapInPandas(
        gen, schema=GOLD_TRIPLE_SCHEMA)


def prf_report(pred_df: DataFrame, gold_df: DataFrame,
               keys: list[str] = None) -> DataFrame:
    """One-row report: (n_pred, n_gold, tp, precision, recall, f1).

    tp = |distinct pred keys ∩ distinct gold keys| via inner join of
    the two distinct key sets (shuffle on the composite key — high
    cardinality, skew-free)."""
    keys = keys or TRIPLE_KEYS
    p = pred_df.select(*keys).distinct()
    g = gold_df.select(*keys).distinct()
    tp = p.join(g, keys, "inner").count()
    n_pred, n_gold = p.count(), g.count()
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_gold if n_gold else 1.0
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall else 0.0)
    spark = pred_df.sparkSession
    return spark.createDataFrame(
        [(n_pred, n_gold, tp, round(precision, 6), round(recall, 6),
          round(f1, 6))],
        "n_pred bigint, n_gold bigint, tp bigint, "
        "precision double, recall double, f1 double")


def bcubed_ppm(assign_df: DataFrame, item: str = "item",
               cluster: str = "cluster", gold: str = "gold") -> DataFrame:
    """B-cubed clustering evaluation vs gold classes, exact-integer ppm
    (Bagga & Baldwin '98; the standard entity-resolution metric —
    evaluates canonicalize.canonical_map the way pairwise F1 cannot,
    since B3 weights every ITEM, not every pair, so giant clusters
    don't drown the tail).

        B3 precision = (1/N) * sum_i |C(i) ∩ G(i)| / |C(i)|
                     = (1/N) * sum_{(c,g)} cnt_{c,g}^2 / size_c
        B3 recall    = symmetric with gold-class sizes.

    Scale shape: three partial-aggregable groupBys over the assignment
    table (pair counts, cluster sizes, gold sizes) + a 1-row broadcast
    total — no window, no self-join; linear at any corpus size.

    Cross-engine exactness (the q26/q29 float-trap rule): each (c,g)
    term is floored in INTEGER arithmetic — (10^6 * cnt^2) div size —
    then the sum is div'd by N, so DuckDB (// operator) reproduces the
    value bit-for-bit.  The two-level floor understates the true score
    by < n_pairs/1e6 ppm — an audit metric, not a ranking key.
    int64 bound: 10^6 * cnt^2 needs cnt < 3e6 items per (cluster,gold)
    cell; shard the assignment by gold beyond that.

    Input contract: one row per item (one cluster AND one gold per
    item); duplicate items would double-count their mass.
    """
    a = assign_df.select(F.col(item).alias("i"),
                         F.col(cluster).alias("c"),
                         F.col(gold).alias("g"))
    pair = a.groupBy("c", "g").agg(F.count("*").alias("cnt"))
    csize = a.groupBy("c").agg(F.count("*").alias("cs"))
    gsize = a.groupBy("g").agg(F.count("*").alias("gs"))
    tot = a.agg(F.count("*").alias("n"),
                F.countDistinct("c").alias("n_clusters"),
                F.countDistinct("g").alias("n_gold"))
    terms = (pair.join(csize, "c").join(gsize, "g")
             .agg(F.sum(F.expr("(1000000 * cnt * cnt) div cs"))
                  .alias("pnum"),
                  F.sum(F.expr("(1000000 * cnt * cnt) div gs"))
                  .alias("rnum")))
    return (terms.crossJoin(F.broadcast(tot))
            .select(F.col("n").alias("n_items"), "n_clusters", "n_gold",
                    F.expr("pnum div n").alias("b3_precision_ppm"),
                    F.expr("rnum div n").alias("b3_recall_ppm"))
            .withColumn(
                "b3_f1_ppm",
                F.expr("CASE WHEN b3_precision_ppm + b3_recall_ppm = 0 "
                       "THEN CAST(0 AS BIGINT) ELSE "
                       "(2 * b3_precision_ppm * b3_recall_ppm) div "
                       "(b3_precision_ppm + b3_recall_ppm) END")))


def pair_agreement_ppm(assign_df: DataFrame, item: str = "item",
                       cluster: str = "cluster",
                       gold: str = "gold") -> DataFrame:
    """Pair-counting clustering agreement vs gold classes: exact
    integer Rand index and Adjusted Rand Index (Hubert & Arabie '85)
    in ppm — the pair-weighted complement of bcubed_ppm (B3 weights
    every item, Rand weights every PAIR, so B3 forgives a shattered
    giant cluster that Rand punishes; release audits read both).

    From the (cluster, gold) contingency counts n_cg and the
    marginals a_c, b_g, n (all combinable aggregates):

        R = sum C(n_cg,2), A = sum C(a_c,2), B = sum C(b_g,2),
        M = C(n,2)
        rand_ppm = (M + 2R - A - B) * 1e6 div M
        E        = (A*B) div M                (floored expectation)
        ari_ppm  = sgn(R-E) * (|R-E| * 2e6 div (A + B - 2E))

    The floored E and the magnitude-then-sign division are the
    deterministic convention (Spark's `div` TRUNCATES negatives
    while DuckDB's `//` floors — dividing |R-E| sidesteps the
    divergence; understates |ARI| by < 2e6/D ppm).  int64 bound:
    A*B needs A,B < 3e9, i.e. n < ~77k items — shard by a stratum
    beyond that, or read the raw components this row also carries.
    A+B-2E = 0 (both clusterings chance-degenerate) yields ari_ppm
    NULL by SQL division semantics in both engines.  C(x,2) via
    shiftright — never float-halve.

    Scale shape: three partial-aggregable groupBys + 1-row folds;
    no window, no self-join.  Same input contract as bcubed_ppm
    (one row per item)."""
    a = assign_df.select(F.col(item).alias("i"),
                         F.col(cluster).alias("c"),
                         F.col(gold).alias("g"))
    c2 = "shiftright(x * (x - 1), 1)"
    pair = (a.groupBy("c", "g").agg(F.count("*").alias("x"))
            .agg(F.sum(F.expr(c2)).alias("r")))
    csize = (a.groupBy("c").agg(F.count("*").alias("x"))
             .agg(F.sum(F.expr(c2)).alias("pa"),
                  F.count("*").alias("n_clusters")))
    gsize = (a.groupBy("g").agg(F.count("*").alias("x"))
             .agg(F.sum(F.expr(c2)).alias("pb"),
                  F.count("*").alias("n_gold")))
    tot = a.agg(F.count("*").alias("x")) \
        .select(F.col("x").alias("n"), F.expr(c2).alias("m"))
    return (pair.crossJoin(csize).crossJoin(gsize)
            .crossJoin(F.broadcast(tot))
            .select(
                F.col("n").cast("bigint").alias("n_items"),
                F.col("n_clusters").cast("bigint").alias("n_clusters"),
                F.col("n_gold").cast("bigint").alias("n_gold"),
                F.col("m").cast("bigint").alias("pairs_total"),
                F.col("r").cast("bigint").alias("pairs_same_both"),
                F.col("pa").cast("bigint").alias("pairs_same_pred"),
                F.col("pb").cast("bigint").alias("pairs_same_gold"),
                F.expr("((m + 2*r - pa - pb) * 1000000) div m")
                .cast("bigint").alias("rand_ppm"),
                F.expr("""
                    CASE WHEN r - ((pa * pb) div m) >= 0 THEN 1
                         ELSE -1 END
                    * ((abs(r - ((pa * pb) div m)) * 2000000)
                       div (pa + pb - 2 * ((pa * pb) div m)))""")
                .cast("bigint").alias("ari_ppm")))
