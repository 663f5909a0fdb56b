"""Corpus profiling: audit sheets that curation and release gates read,
each one combinable aggregate over a bounded dimension:

- encoding_audit: per-source mojibake and control-character density;
- ngram_diversity: per-source distinct-n share;
- term_salience: the most salient term of each document;
- k_anonymity_audit: re-identification risk of quasi-identifier
  groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def encoding_audit(df: DataFrame, text_col: str = "text",
                   group_col: str = "source") -> DataFrame:
    """Per-source encoding-QA sheet: mojibake density a crawl pipeline
    watches before trusting a source (bad transcodes show up as U+FFFD
    replacement chars; truncated/binary content as C0 control chars).

    Counting trick shared with the DuckDB twin: occurrences(x) =
    length(t) - length(remove(x, t)) — exact in both engines, pure
    codegen in the scan stage, then ONE combinable groupBy on the
    source dimension.  Outputs integer: per-char densities in ppm
    (two-level div), doc counts absolute."""
    t = F.col(text_col)
    n_repl = F.length(t) - F.length(F.replace(t, F.lit("�")))
    n_ctrl = (F.length(t) - F.length(F.regexp_replace(
        t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")))
    return (df.select(F.col(group_col).alias("source"),
                      F.length(t).alias("_len"),
                      n_repl.alias("_r"), n_ctrl.alias("_c"))
            .groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum(F.expr("CAST(_r > 0 OR _c > 0 AS INT)"))
                 .cast("bigint").alias("n_bad_docs"),
                 F.sum("_r").cast("bigint").alias("repl_chars"),
                 F.sum("_c").cast("bigint").alias("ctrl_chars"),
                 F.sum("_len").alias("_chars"))
            .select("source", "n_docs", "n_bad_docs", "repl_chars",
                    "ctrl_chars",
                    F.expr("(1000000 * repl_chars) div _chars")
                    .alias("repl_ppm"),
                    F.expr("(1000000 * ctrl_chars) div _chars")
                    .alias("ctrl_ppm")))


def ngram_diversity(df: DataFrame, text_col: str = "text",
                    group_col: str = "source", n: int = 3) -> DataFrame:
    """Distinct-n diversity per source (the generation-diversity
    metric applied as a corpus audit): distinct word n-grams over
    total n-grams, ppm — a source whose score collapses is template
    spam, no matter what per-doc quality says.

    Shape: n-grams materialize as one per-row array expression (no
    window, no self-join), then ONE groupBy(source, gram) partial
    count feeding a per-source agg — two shuffles on (source, gram)
    then (source); at 100 TB the gram key is high-cardinality and
    skew-free.  Integer ppm via div."""
    words = F.split(F.lower(F.trim(F.col(text_col))), "\\s+")
    grams = F.expr(
        f"transform(sequence(0, size(_w) - {n}), "
        f"i -> concat_ws(' ', slice(_w, i + 1, {n})))")
    g = (df.select(F.col(group_col).alias("source"), words.alias("_w"))
         .where(F.size("_w") >= n)
         .select("source", F.explode(grams).alias("gram")))
    per = g.groupBy("source", "gram").agg(F.count("*").alias("c"))
    return (per.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("distinct_ngrams"),
                 F.sum("c").cast("bigint").alias("total_ngrams"))
            .select("source", "distinct_ngrams", "total_ngrams",
                    F.expr("(1000000 * distinct_ngrams) div total_ngrams")
                    .alias("distinct_ppm")))


def term_salience(tokens: DataFrame, id_col: str = "url",
                  word_col: str = "word", idx_col: str = "idx",
                  min_len: int = 5, pos_cap: int = 500) -> DataFrame:
    """Most-salient term per document from a token table
    ``(id, idx, word)`` with 0-based positions: salience =
    n_mentions * 1000 + max(0, pos_cap - 1 - first_idx) — frequency
    dominates, earliness breaks frequency ties (lead-position
    salience, the classic wire-service heuristic: what the page is
    ABOUT appears early and often).  Fields don't interfere: the
    position bonus lives in [0, pos_cap) < 1000, so
    n_mentions = salience div 1000 is recoverable exactly.

    Deterministic output: one row per doc — the max-salience term,
    lexicographically smallest word among exact ties (the
    ontology._modal_type max-then-min pattern; no window).

    Scale shape: one groupBy (id, word) over the token table, a
    per-doc max aggregate, and the tie-break join keyed on id —
    all combinable, skew follows the doc-id key (uniform).  Short
    words (< min_len chars) drop before the first shuffle.

    KG twin: kg_entity_salience runs the same formula over REAL
    mention offsets (operators.annotate mentions), replacing the
    length heuristic with actual gazetteer hits.
    """
    g = (tokens.where(F.length(F.col(word_col)) >= min_len)
         .groupBy(F.col(id_col).alias("id"),
                  F.col(word_col).alias("word"))
         .agg(F.count("*").alias("cnt"),
              F.min(F.col(idx_col)).alias("first_idx")))
    scored = g.select(
        "id", "word",
        (F.col("cnt") * 1000
         + F.greatest(F.lit(0),
                      F.lit(pos_cap - 1) - F.col("first_idx")))
        .cast("bigint").alias("salience"))
    top = scored.groupBy("id").agg(F.max("salience").alias("top_sal"))
    return (scored.join(top, "id")
            .where(F.col("salience") == F.col("top_sal"))
            .groupBy("id")
            .agg(F.min("word").alias("top_word"),
                 F.max("salience").cast("bigint").alias("salience"))
            .select("id", "top_word", "salience",
                    F.expr("salience div 1000").cast("bigint")
                    .alias("n_mentions")))


def k_anonymity_audit(df: DataFrame, qi_cols: list[str], sensitive_col,
                      ks: tuple[int, ...] = (2, 5, 10),
                      ls: tuple[int, ...] = (2, 3)) -> DataFrame:
    """Re-identification risk audit before a corpus release: group by
    the quasi-identifier columns (the attributes an adversary can
    join against — source, language, size bucket, ...) and measure
    how much of the corpus sits in groups smaller than k
    (k-anonymity, Sweeney) and in groups whose SENSITIVE attribute
    takes fewer than l distinct values (l-diversity, Machanavajjhala
    et al. — a large group is still disclosive if everyone in it
    shares the sensitive value).  The governance sheet a 100 TB
    release gate reads next to the PII scrub counts (q47): PII
    removal kills direct identifiers, this measures the QUASI
    identifiers that survive it.

    One partial-agg groupBy on the QI key + ONE pass over the
    (small) group table computing every threshold as a conditional
    sum — no per-threshold scans, no window, no sort; scale-safe at
    any corpus size (the group table is bounded by the QI domain).

    sensitive_col may be any Column expression.  Returns one row per
    audited threshold: (metric 'k_anonymity'|'l_diversity',
    threshold, groups_flagged, rows_flagged, rows_ppm) where flagged
    means group size < k (resp. distinct sensitive values < l) and
    rows_ppm is the integer-ppm share of all rows."""
    g = (df.groupBy(*[F.col(c) for c in qi_cols])
         .agg(F.count("*").alias("n"),
              F.count_distinct(sensitive_col).alias("s")))
    aggs = [F.sum("n").alias("tot")]
    for k in ks:
        aggs.append(F.sum(F.when(F.col("n") < k, 1).otherwise(0))
                    .alias(f"gk{k}"))
        aggs.append(F.sum(F.when(F.col("n") < k, F.col("n"))
                          .otherwise(0)).alias(f"rk{k}"))
    for l in ls:
        aggs.append(F.sum(F.when(F.col("s") < l, 1).otherwise(0))
                    .alias(f"gl{l}"))
        aggs.append(F.sum(F.when(F.col("s") < l, F.col("n"))
                          .otherwise(0)).alias(f"rl{l}"))
    one = g.agg(*aggs)
    # one row -> one stack projection: the threshold sheet unpivots
    # WITHOUT unioning N projections of the same aggregate subtree
    rows = []
    for k in ks:
        rows.append(f"'k_anonymity', CAST({k} AS BIGINT), "
                    f"CAST(gk{k} AS BIGINT), CAST(rk{k} AS BIGINT), "
                    f"CAST((rk{k} * 1000000) div tot AS BIGINT)")
    for l in ls:
        rows.append(f"'l_diversity', CAST({l} AS BIGINT), "
                    f"CAST(gl{l} AS BIGINT), CAST(rl{l} AS BIGINT), "
                    f"CAST((rl{l} * 1000000) div tot AS BIGINT)")
    return one.selectExpr(
        f"stack({len(rows)}, {', '.join(rows)}) AS "
        "(metric, threshold, groups_flagged, rows_flagged, rows_ppm)")
