"""Document deduplication operators for the training-data pipeline:

- shingle / jaccard_pairs: n-gram shingling + intersection/union counts
  (integers, so the DuckDB oracle hash-matches exactly);
- minhash_signatures + lsh_candidate_pairs: MinHash over md5-salted
  hashes, banded LSH self-join on band keys (the scale path: candidate
  generation never compares all pairs);
- simhash64: 64-bit SimHash over word hashes (near-dup by Hamming
  distance);
- doc_lines / frequent_line_dedup / window_dup_stats: line- and
  window-level duplicate removal and coverage;
- global_rank / sorted_neighborhood_pairs: sorted-neighborhood
  blocking over a global key order.

All hashes are the portable md5-int family (functions.hashing) so each
operator has an exact cross-engine oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int


def shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3,
             max_df: int | None = None) -> DataFrame:
    """Word k-gram shingle set per document: (id, shingle) distinct rows.

    transform+slice over the split array stays in codegen; explode is
    the only row-multiplier.

    max_df: drop shingles appearing in more than max_df documents (the
    standard stopword-shingle cap).  A web corpus's most common trigram
    appears in a large fraction of ALL documents, so any downstream
    self-join on the shingle key has O(df^2) fan-out per key — the cap
    bounds per-key work by max_df^2 REGARDLESS of corpus size, which is
    what makes the exact-jaccard path survive a 100x scale-up.  Cost:
    one extra count aggregate + left-semi join, both keyed by the
    high-cardinality shingle (map-side combinable, no skew).

    The token array is materialized in its own projection BEFORE the
    gram lambda: higher-order functions are interpreted, and a lambda
    referencing an outer *expression* re-evaluates it per element —
    the split would otherwise run once per gram index (O(n^2) chars
    per doc)."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    t = F.col("_t")
    n = F.size(t)
    idxs = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(idxs, lambda i: F.array_join(F.slice(t, i + 1, k), " "))
    out = (base.select("doc_id",
                       F.explode(F.array_distinct(sh)).alias("shingle"))
           .where(F.col("shingle") != ""))
    if max_df is not None:
        keep = (out.groupBy("shingle")
                .agg(F.count("*").alias("sh_df"))
                .where(F.col("sh_df") <= max_df)
                .select("shingle"))
        out = out.join(keep, "shingle", "left_semi")
    return out


def jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                  k: int = 3, min_shared: int = 2,
                  max_df: int | None = None,
                  keep_sizes: bool = False) -> DataFrame:
    """Near-dup candidate pairs with integer (intersection, union)
    shingle counts over the (optionally DF-capped) shingle sets.

    With max_df set, intersection AND union are both computed over the
    capped sets (self-consistent capped-Jaccard): dropping a shingle
    that appears in >max_df documents changes no true near-dup verdict
    for sane caps, and bounds the self-join fan-out per shingle key at
    max_df^2 — the 100 TB-safe shape.  Without a cap the self-join is
    exact but its hottest key grows with the corpus; prefer
    lsh_candidate_pairs at scale."""
    # the shingle table feeds three subplans (both self-join sides +
    # the per-doc sizes); persist materializes the explode once — the
    # DataFrame analogue of a materialized CTE.  NOTE Dataset.persist
    # registers in the SQL CacheManager and is pinned until explicit
    # unpersist/clearCache; callers that loop over many corpora should
    # unpersist via the returned plan's .unpersist_input handle below.
    sh = shingles(df, text_col, id_col, k, max_df=max_df).persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (a.join(b, on="shingle")
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("inter")))
    pairs = (pairs.join(sizes.withColumnRenamed("doc_id", "doc_a")
                        .withColumnRenamed("n_sh", "n_a"), on="doc_a")
             .join(sizes.withColumnRenamed("doc_id", "doc_b")
                   .withColumnRenamed("n_sh", "n_b"), on="doc_b")
             .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
             .where(F.col("inter") >= min_shared)
             .select("doc_a", "doc_b", "inter", "uni",
                     *(["n_a", "n_b"] if keep_sizes else [])))
    pairs.unpersist_input = sh.unpersist  # session-cache release hook
    return pairs


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       k: int = 3, n_hashes: int = 16) -> DataFrame:
    """Wide minhash signature: (doc_id, mh0..mh{n-1}).

    No row multiplication: one groupBy over the shingle table computes
    all n salted minima as partial (map-side combinable) aggregates.
    """
    sh = shingles(df, text_col, id_col, k)
    aggs = [F.min(md5_int(F.col("shingle"), salt=f"mh{i}:")).alias(f"mh{i}")
            for i in range(n_hashes)]
    return sh.groupBy("doc_id").agg(*aggs)


def band_keys(sig: DataFrame, n_hashes: int = 16,
              bands: int = 4) -> DataFrame:
    """(doc_id, band_idx, band_key) from a minhash signature table.
    ONE projection emits every band key (array of structs + explode):
    a per-band union would re-execute the signature aggregation once
    per band."""
    rows_per_band = n_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(F.concat_ws(",", *[
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ])).alias("band_key"))
        for b in range(bands)])
    return (sig.select("doc_id", F.explode(band_structs).alias("bk"))
            .select("doc_id", F.col("bk.band_idx").alias("band_idx"),
                    F.col("bk.band_key").alias("band_key")))


def lsh_candidate_pairs(df: DataFrame, text_col: str, id_col: str,
                        k: int = 3, n_hashes: int = 16,
                        bands: int = 4) -> DataFrame:
    """Banded-LSH near-dup candidates: equal band signature in >=1 band.

    Band key = md5 of the in-band minhash concat; the per-band tables
    self-join on band_key only.  At 100 TB this is the all-pairs-free
    path: cost is O(docs x bands), never O(docs^2)."""
    # both sides of the band self-join read the signature table
    sig = minhash_signatures(df, text_col, id_col, k, n_hashes).persist()
    banded = band_keys(sig, n_hashes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    out = (a.join(b, on=["band_idx", "band_key"])
           .where(F.col("a.doc_id") < F.col("b.doc_id"))
           .select(F.col("a.doc_id").alias("doc_a"),
                   F.col("b.doc_id").alias("doc_b"))
           .distinct())
    # persist pins blocks in the SQL CacheManager until explicitly
    # released; expose the handle for callers that loop over corpora
    out.unpersist_input = sig.unpersist
    return out


def simhash64(df: DataFrame, text_col: str, id_col: str, n_bits: int = 60) -> DataFrame:
    """SimHash over whitespace words (n_bits <= 60, the width of the
    portable hash): per bit, sign of the sum of (+1/-1) word-hash bits;
    near-dups share most bits.

    Pure SQL with NO row multiplication: one groupBy computes all bit
    votes as wide conditional sums (map-side combinable), then a single
    projection recombines the bits.  One shuffle total.
    """
    words = (df.select(F.col(id_col).alias("doc_id"),
                       F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
                       .alias("w"))
             .where(F.col("w") != ""))
    h = words.withColumn("h", md5_int(F.col("w")))
    votes = [F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                          1).otherwise(-1)).alias(f"v{i}")
             for i in range(n_bits)]
    per_doc = h.groupBy("doc_id").agg(*votes)
    sim = sum((F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("bigint"))
               .otherwise(F.lit(0).cast("bigint")) for i in range(n_bits)),
              F.lit(0).cast("bigint"))
    return per_doc.select("doc_id", sim.cast("bigint").alias("simhash"))


def window_dup_stats(df: DataFrame, text_col: str, id_col: str,
                     w: int = 5, min_df: int = 2) -> DataFrame:
    """Cross-document duplicated-substring coverage (the exact
    substring-dedup statistic of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": a token window that
    recurs verbatim in another document marks copied boilerplate /
    syndicated text that document-level near-dup misses).

    Per document: n_windows = distinct w-token windows, n_dup = those
    occurring in >= min_df distinct documents, dup_ppm = integer
    duplicated-window fraction.  Pipelines drop or trim docs above a
    dup_ppm threshold.

    Scale shape: windows reuse the shingle builder (per-row array
    exprs + one explode); window document-frequency is ONE map-side-
    combinable aggregate keyed by the window (high-cardinality, no
    skew: the shingle's df is what's being measured, and the join
    back is keyed the same way).  Unlike frequent_line_dedup the
    duplicated-window set is corpus-sized, so the join back is a
    SHUFFLE join, not a broadcast — both sides arrive hash-
    partitioned by the window key from the same prior exchange, so
    AQE reuses the partitioning.  The window table feeds both the
    df aggregate and the join, hence the persist (released via
    .unpersist_input)."""
    sh = shingles(df, text_col, id_col, k=w).persist()
    dup = (sh.groupBy("shingle")
           .agg(F.count("*").alias("w_df"))
           .where(F.col("w_df") >= min_df)
           .select("shingle"))
    out = (sh.join(dup.withColumn("_dup", F.lit(1)), "shingle", "left")
           .groupBy("doc_id")
           .agg(F.count("*").cast("bigint").alias("n_windows"),
                F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0))
                .cast("bigint").alias("n_dup"))
           .withColumn("dup_ppm",
                       F.floor(F.col("n_dup") * F.lit(1_000_000)
                               / F.col("n_windows")).cast("bigint")))
    out.unpersist_input = sh.unpersist
    return out


def doc_lines(df: DataFrame, text_col: str, id_col: str,
              chunk: int | None = None) -> DataFrame:
    """(id, line) rows for line-granular dedup: newline split by
    default (the CCNet / web-corpus unit); `chunk=N` switches to
    non-overlapping N-token chunks for corpora without line structure
    (the testdata documents are single-line word streams).

    One projection + one explode — the chunk build (split ->
    transform/slice -> array_join) is per-row array code, fully
    codegen-side.  Keep `chunk` a power of two: the chunk-count
    arithmetic then stays binary-exact in BOTH engines (the DuckDB
    twin uses integer division)."""
    if chunk is None:
        lines_arr = F.filter(F.split(F.col(text_col), "\n"),
                             lambda l: F.trim(l) != "")
    else:
        from ..functions.text import _let
        toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                        lambda w: w != "")

        def _chunks(t):
            sz = F.size(t)
            # last chunk index = (sz-1) div chunk; the double division
            # is exact for any int sz < 2^53 so floor() matches
            # DuckDB's `//`
            last = F.greatest(F.floor((sz - F.lit(1)) / F.lit(chunk)),
                              F.lit(0)).cast("int")
            idxs = F.sequence(F.lit(0), last)
            return F.filter(
                F.transform(idxs, lambda i: F.array_join(
                    F.slice(t, i * chunk + 1, chunk), " ")),
                lambda g: g != "")

        # toks _let-bound: the chunk lambda re-evaluates captured
        # outer expressions per element (see shingles())
        lines_arr = _let(toks, _chunks)
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.explode(lines_arr).alias("line")))


def frequent_line_dedup(df: DataFrame, text_col: str, id_col: str,
                        min_df: int = 2,
                        chunk: int | None = None) -> DataFrame:
    """Corpus-level line deduplication (the CCNet pretraining-cleanup
    rule: drop every occurrence of a line that appears in >= min_df
    distinct documents — boilerplate headers/footers/nav text).

    Returns per-doc (doc_id, n_lines, n_dropped).

    Scale shape: ONE map-side-combinable aggregate computes per-line
    document frequency (two-phase partial distinct — never a
    dropDuplicates shuffle of the full line set), the frequent-line
    survivor set is tiny at any corpus size (boilerplate is by
    definition heavy-tailed) and is BROADCAST back, so the per-doc
    re-aggregate needs no second corpus-wide shuffle of line text.
    At 100 TB raise min_df with the corpus (or swap the broadcast for
    a shuffle join if the survivor set outgrows the driver)."""
    lines = doc_lines(df, text_col, id_col, chunk=chunk)
    freq = (lines.groupBy("line")
            .agg(F.countDistinct("doc_id").alias("line_df"))
            .where(F.col("line_df") >= min_df)
            .select("line"))
    return (lines.join(F.broadcast(freq.withColumn("_hit", F.lit(1))),
                       "line", "left")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_lines"),
                 F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_dropped")))


def global_rank(df: DataFrame, order_cols: list[str],
                rank_col: str = "rnk",
                num_parts: int | None = None) -> DataFrame:
    """Scale-safe GLOBAL 1-based rank by a total order, without the
    single-partition `Window.orderBy(...)` bottleneck: range-partition
    on the order columns, row_number WITHIN each partition, then add
    per-partition offsets (one collect of partition-count rows — a
    dimension, like the IVF centroid pull in ann.py).  order_cols must
    be a total order (include a unique id as the last tiebreak); the
    resulting rank is then invariant to where the sampled range
    boundaries happen to fall.

    The pid-stamped input is persisted because TWO jobs consume it
    (the offset count and the ranked output) and RangePartitioner's
    sampled boundaries are not guaranteed identical across recomputes;
    the returned plan exposes .unpersist_input (house convention).

    num_parts sizes the range exchange (default: session
    spark.sql.shuffle.partitions) — a 100 TB caller sets it so each
    range partition's sort fits executor memory; the offset collect
    stays num_parts-sized either way."""
    from pyspark.sql import Window

    cols = [F.col(c) for c in order_cols]
    rp = (df.repartitionByRange(num_parts, *cols) if num_parts
          else df.repartitionByRange(*cols))
    stamped = rp.withColumn("_pid", F.spark_partition_id()).persist()
    # partition-count-sized dimension: cumulative offset per pid
    counts = {r["_pid"]: r["c"] for r in
              stamped.groupBy("_pid").agg(F.count("*").alias("c"))
              .collect()}
    off, acc = {}, 0
    for pid in sorted(counts):
        off[pid] = acc
        acc += counts[pid]
    offmap = F.create_map(
        *[F.lit(x) for pid in sorted(counts)
          for x in (pid, off[pid])]) if counts else F.create_map()
    w = Window.partitionBy("_pid").orderBy(*cols)
    out = (stamped.withColumn("_rn", F.row_number().over(w))
           .withColumn(rank_col,
                       (offmap[F.col("_pid")] + F.col("_rn"))
                       .cast("bigint"))
           .drop("_pid", "_rn"))
    out.unpersist_input = stamped.unpersist
    return out


def sorted_neighborhood_pairs(df: DataFrame, key_col: str, id_col: str,
                              window: int = 5) -> DataFrame:
    """Sorted-neighborhood ER blocking (Hernandez & Stolfo 1995): order
    records by a blocking key, emit every pair within a sliding window
    of `window` consecutive records.  The third classing strategy next
    to token-key blocking (jaccard/LSH) and deletion-key blocking
    (SymSpell): O(w * n) candidates BY CONSTRUCTION, independent of
    key-value skew — a million records sharing one hot key produce the
    same pair count as a million distinct keys (where token-key
    blocking explodes as df^2).  Multi-pass SN = union of calls with
    different keys.

    Scale shape: global_rank is a range-partition sort (Spark's
    native TB-scale sort path) and pair generation is an equi-join on
    the UNIQUE integer rank (b.rnk == a.rnk + gap, gap exploded
    1..window-1) — no window function over a global order, no skew.

    Returns (id_a, id_b, key_a, key_b, gap) with id_a the
    sort-order-earlier record; gap = rank distance (1 = adjacent)."""
    assert window >= 2
    base = df.select(F.col(key_col).alias("key"), F.col(id_col).alias("id"))
    ranked = global_rank(base, ["key", "id"])
    release = ranked.unpersist_input
    probes = ranked.select(
        "rnk", F.col("id").alias("id_a"), F.col("key").alias("key_a"),
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("gap"))
    right = ranked.select(F.col("rnk").alias("rnk_b"),
                          F.col("id").alias("id_b"),
                          F.col("key").alias("key_b"))
    out = (probes.join(right,
                       probes["rnk"] + probes["gap"] == right["rnk_b"])
           .select("id_a", "id_b", "key_a", "key_b",
                   F.col("gap").cast("int").alias("gap")))
    out.unpersist_input = release
    return out
