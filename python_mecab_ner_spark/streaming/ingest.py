"""Structured-Streaming ingest for the KG pipeline.

The batch engine's annotate stage is stateless and row-local, so the
SAME operator graph runs unchanged on a streaming pages source:
readStream(parquet dir) -> annotate (mapInArrow) -> triples ->
writeStream(parquet, exactly-once via checkpoint).  A crawler keeps
appending WARC-derived parquet files; each micro-batch extracts
triples incrementally with per-batch lineage in the checkpoint log.

The reference has no streaming concept (SURVEY.md §2.6); this module
is the Spark-native capability a continuously-crawled 100 TB corpus
needs on top of it.  Late/duplicate pages are handled by the
watermarked per-predicate rollup (windowed on warc_ts) and by the
downstream exact_dedup operator.

Scale notes: the streaming plan is the identical narrow stage as the
batch plan (no shuffle before the sink), so executor scaling behavior
matches the batch measurements in BENCH.md; `maxFilesPerTrigger`
bounds micro-batch size so state and task counts stay constant as the
input directory grows unboundedly.
"""

from __future__ import annotations

# module-level so pandas_udf type hints (strings under postponed
# annotation evaluation) resolve in module globals
import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (StringType, StructField, StructType,
                               TimestampType)

from ..operators.annotate import annotate_pages, triples_table

PAGES_STREAM_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def stream_pages(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of pages parquet (schema fixed up front —
    streaming sources cannot infer)."""
    reader = spark.readStream.schema(PAGES_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_triples(pages_stream: DataFrame, gazetteer_rows_bc,
                   search_category=None) -> DataFrame:
    """Streaming triples: the batch annotate stage applied verbatim
    (stateless mapInArrow is streaming-compatible)."""
    ann = annotate_pages(pages_stream, gazetteer_rows_bc,
                         search_category=search_category)
    return triples_table(ann)


def windowed_pred_counts(triples_stream: DataFrame,
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Watermarked windowed rollup: triples per predicate per warc_ts
    window.  Late pages beyond the watermark are dropped; state is
    bounded by (windows in watermark horizon) x |preds|."""
    return (triples_stream
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "pred")
            .agg(F.count("*").alias("n_triples"))
            .select(F.col("w.start").alias("window_start"), "pred",
                    "n_triples"))


def stream_dedup(pages_stream: DataFrame,
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact-dedup: keep the FIRST arrival per normalized
    text fingerprint, with state bounded by the watermark horizon
    (dropDuplicatesWithinWatermark — the streaming twin of
    operators.dedup.exact_dedup).  A crawler re-fetching the same page
    within the horizon emits it once; state size is O(distinct
    fingerprints inside the watermark window), not O(corpus)."""
    from ..functions.text import fingerprint
    return (pages_stream
            .withColumn("fp", fingerprint(F.col("text")))
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["fp"]))


def stream_neardup(pages_stream: DataFrame,
                   watermark: str = "2 hours") -> DataFrame:
    """Streaming NEAR-duplicate suppression: keep the first arrival
    per 16-bit SimHash bucket within the watermark horizon.  A crawler
    re-fetching boilerplate-shifted copies of a page (timestamps,
    counters, ad slots) produces texts whose SimHashes collide even
    though their exact fingerprints differ — the streaming counterpart
    of operators.dedup.simhash near-dup detection, with state bounded
    exactly like stream_dedup (O(distinct simhashes in the horizon)).

    Coarser than the batch path by design: a single 16-bit bucket
    equality (no Hamming-neighbor probing) — streaming state lookups
    are exact-key only; the batch near-dup pass downstream applies the
    full banded comparison."""
    from ..functions.text import simhash16
    return (pages_stream
            .withColumn("sh", simhash16(F.col("text")))
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["sh"]))


def stream_quality_gate(pages_stream: DataFrame, lang: str = "en",
                        min_quality: int = 60,
                        max_rep_ppm: int = 200_000,
                        redact_pii: bool = False) -> DataFrame:
    """Row-local corpus-cleaning gate for streams: the STATELESS
    subset of the batch cleaning pipeline (the q39 lang + quality
    gates plus the Gopher duplicate-n-gram repetition rule) as pure
    per-row filters — no watermark, no state, no shuffle.  Compose it
    BEFORE stream_dedup / stream_neardup so the stateful stages hold
    state only for pages that survive the gates (state size tracks
    the CLEAN rate, not the crawl rate).  The batch twin of each
    filter is oracled (q12 / q13 / q45); the exact-dedup rank-1 of
    q39 stays batch/stateful by nature (stream_dedup)."""
    from ..functions.text import (duplicate_ngram_ppm, lang_id, pii_redact,
                                  quality_score)
    out = (pages_stream
           .where(lang_id(F.col("text")) == lang)
           .where(quality_score(F.col("text")) >= min_quality)
           .where(duplicate_ngram_ppm(F.col("text"), n=2) <= max_rep_ppm))
    if redact_pii:
        # PII scrubbing is per-row regexp (q47's oracled batch twin):
        # stateless, so it composes into the gate at zero state cost
        out = out.withColumn("text", pii_redact(F.col("text")))
    return out


def run_ingest(spark: SparkSession, input_dir: str, out_dir: str,
               checkpoint_dir: str, gazetteer_rows_bc,
               available_now: bool = True):
    """Start the ingest query: pages dir -> triples parquet, exactly
    once per input file via the checkpoint log.  available_now=True
    drains what exists and stops (the batch-incremental 'resume' mode:
    re-running after new files arrive processes only the new files)."""
    triples = stream_triples(stream_pages(spark, input_dir),
                             gazetteer_rows_bc)
    writer = (triples.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bench_gram_broadcast(spark: SparkSession, bench_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 3):
    """Collect the benchmark's distinct word k-gram set and broadcast
    it to executors.  Eval suites are tiny relative to the corpus, so
    this is the same broadcast-the-small-side move as the batch
    ngram_collisions — built once per ingest job, reused by every
    micro-batch."""
    from ..operators.dedup import shingles
    grams = [r.shingle for r in
             (shingles(bench_df, text_col, id_col, k)
              .select("shingle").distinct().collect())]
    return spark.sparkContext.broadcast(frozenset(grams))


def stream_decontaminate(pages_stream: DataFrame, bench_bc,
                         k: int = 3, max_collide: int = 0,
                         text_col: str = "text") -> DataFrame:
    """Row-local streaming benchmark decontamination: per page, count
    DISTINCT word k-grams colliding with the broadcast benchmark set
    (identical gram semantics to operators.dedup.shingles — lower,
    \\s+ normalize, tail-truncated k-grams, empties dropped) and keep
    pages with n_collide <= max_collide.

    STATELESS by construction — an Arrow-batched pandas UDF + filter,
    no join, no watermark, no state store — so it composes into the
    quality gate chain at any stream rate; the batch twin q46 is the
    oracled reference for the gram/count semantics (pinned by the
    batch-agreement test)."""
    import re

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _n_collide(texts: pd.Series) -> pd.Series:
        bset = bench_bc.value
        out = []
        for t in texts:
            words = [w for w in re.split(r"\s+", (t or "").lower().strip())
                     if w]
            n = len(words)
            grams = {" ".join(words[i:i + k])
                     for i in range(max(n - k, 0) + 1)}
            grams.discard("")
            out.append(len(grams & bset))
        return pd.Series(out, dtype="int64")

    return (pages_stream
            .withColumn("n_collide", _n_collide(F.col(text_col)))
            .where(F.col("n_collide") <= max_collide))


def stream_host_link_counts(pages_stream: DataFrame,
                            window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Crawl-time link discovery: watermarked windowed (src_host,
    dst_host) link counts from the pages' html — the streaming twin
    of weblinks.host_graph feeding a continuously-updated crawl
    frontier (new hosts appear in the output the window their first
    inbound link arrives).

    Outlink extraction is the SAME stateless projection as batch
    (weblinks.outlinks applies to streams unchanged); only the rollup
    holds state, bounded by (windows in horizon) x |host pairs| —
    host-dimension-sized, never page-sized."""
    from ..operators.weblinks import host_of

    return (outlinks_with_ts(pages_stream)
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"),
                     host_of(F.col("src_url")).alias("src_host"),
                     host_of(F.col("dst_url")).alias("dst_host"))
            .agg(F.count("*").cast("bigint").alias("n_links"))
            .select(F.col("w.start").alias("window_start"),
                    "src_host", "dst_host", "n_links"))


def outlinks_with_ts(pages_stream: DataFrame) -> DataFrame:
    """outlinks projection that keeps warc_ts (event time) on every
    link row — still a stateless narrow projection."""
    from ..operators.weblinks import HREF_PATTERN
    hrefs = F.regexp_extract_all(F.col("html").cast("string"),
                                 F.lit(HREF_PATTERN), 1)
    return pages_stream.select(F.col("url").alias("src_url"), "warc_ts",
                               F.explode(hrefs).alias("dst_url"))


def bloom_bits_array(bloom_df, m_words: int = 256) -> list[int]:
    """Collect a batch-built bloom filter (operators.sketch
    .bloom_build) into a dense word list for row-local stream probes.
    m_words * 8 bytes regardless of how many urls were inserted —
    the whole point of shipping a bloom instead of the seen set."""
    got = {r.word_idx: r.bits for r in bloom_df.collect()}
    return [got.get(i, 0) for i in range(m_words)]


def stream_seen_filter(pages_stream: DataFrame, bloom_bits: list[int],
                       k: int = 3, url_col: str = "url",
                       keep_seen: bool = False) -> DataFrame:
    """Row-local crawl-frontier dedup against a BATCH-built bloom
    filter: drop pages whose url probes positive (keep_seen=True
    inverts — e.g. to route re-crawls elsewhere).  The filter rides
    the plan as an array LITERAL indexed per row — no join, no state,
    no shuffle, so it composes with the other stateless gates and the
    stream stays `availableNow`-safe at any rate.

    Exactly bloom_probe's bit semantics (same salted md5 positions,
    same 32-bit words — parity pinned by test), hence no false
    negatives: a url already in the filter NEVER passes.  False
    positives drop new urls at the documented bloom rate — the
    standard frontier trade (a dropped-new url is re-discoverable;
    a re-crawled seen url is pure waste).

    State story at 100 TB: stream_dedup holds per-url state bounded
    by the watermark; this filter handles the UNBOUNDED history
    (every url ever crawled) in m_words * 8 bytes, rebuilt/merged
    batch-side per crawl round (bloom_merge)."""
    nbits = 32 * len(bloom_bits)
    arr = F.array(*[F.lit(int(b)).cast("bigint") for b in bloom_bits])
    probed = pages_stream.withColumn("_bloom", arr)
    checks = []
    for i in range(k):
        pos = (f"(CAST(conv(substr(md5(concat('bloom{i}:', {url_col})), "
               f"1, 15), 16, 10) AS BIGINT) % {nbits})")
        checks.append(
            f"((element_at(_bloom, CAST({pos} / 32 AS INT) + 1) & "
            f"shiftleft(CAST(1 AS BIGINT), CAST({pos} % 32 AS INT))) "
            f"!= 0)")
    seen = F.expr(" AND ".join(checks))
    return (probed.where(seen if keep_seen else ~seen)
            .drop("_bloom"))


def stream_cm_counts(pages_stream: DataFrame, d: int = 4, w: int = 64,
                     window: str = "1 hour",
                     watermark: str = "2 hours",
                     text_col: str = "text") -> DataFrame:
    """Streaming count-min sketch per time window: the trending-term
    / vocabulary-drift monitor whose state is d x w integers PER
    WINDOW regardless of stream vocabulary — where a windowed exact
    term count holds vocabulary-sized state and dies on an unbounded
    stream.

    The token->cell projection is operators.sketch.cm_sketch's exact
    hash family (same salted md5 buckets — batch/stream sketch cells
    are directly comparable and foldable via cm_merge); only the
    (window, r, b) rollup holds state.  Emits one row per touched
    cell: (window_start, r, b, cnt)."""
    from ..operators.sketch import _bucket

    toks = (pages_stream.select(
        F.col("warc_ts"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                          r"\s+")).alias("word"))
        .where("word <> ''"))
    cells = F.array(*[
        F.struct(F.lit(r).cast("int").alias("r"),
                 _bucket(F.col("word"), r, w).cast("int").alias("b"))
        for r in range(d)])
    return (toks.select("warc_ts", F.explode(cells).alias("c"))
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("win"),
                     F.col("c.r").alias("r"), F.col("c.b").alias("b"))
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .select(F.col("win.start").alias("window_start"),
                    "r", "b", "cnt"))
