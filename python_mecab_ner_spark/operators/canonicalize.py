"""Surface-form canonicalization: MinHash-LSH blocking + connected
components (SURVEY.md §7.1 milestone 6).

1. Alias candidate pairs: jamo-shingle MinHash signatures, banded LSH
   self-join (never all-pairs), then exact jaccard verification with
   integer intersection/union counts.
2. Connected components over the verified similarity edges via
   iterative min-label propagation (GraphFrames-style alternating
   joins — Spark has no native fixpoint operator, so the driver loop
   bounds iterations and truncates lineage with localCheckpoint each
   round; SURVEY.md §4 custom piece (c)).
3. Each entity maps to canonical_id = min entity_id of its component.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import md5_int_py


def _jamo_shingle_minhash_udf(n_hashes: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.LongType()))
    def mh(s: pd.Series) -> pd.Series:
        from ..kernel.jamo import jamo_shingles

        def sig(text):
            sh = jamo_shingles(text or "", k=3)
            if not sh:
                return [0] * n_hashes
            return [min(md5_py(g, i) for g in sh) for i in range(n_hashes)]

        def md5_py(g, i):
            return md5_int_py(g, salt=f"cmh{i}:")
        return s.map(sig)
    return mh


def alias_pairs(entities_df: DataFrame, n_hashes: int = 12, bands: int = 4,
                jaccard_min: float = 0.6) -> DataFrame:
    """Entity alias near-dup pairs (a_id, b_id) within the same large
    category, LSH-blocked then jaccard-verified on jamo shingles."""
    rows_per_band = n_hashes // bands
    sig = entities_df.select(
        "entity_id", "large", "surface",
        _jamo_shingle_minhash_udf(n_hashes)(F.col("surface")).alias("sig"))
    per_band = []
    for b in range(bands):
        key = F.md5(F.concat_ws(",", *[
            F.element_at("sig", b * rows_per_band + r + 1).cast("string")
            for r in range(rows_per_band)]))
        per_band.append(sig.select("entity_id", "large", "surface",
                                   F.lit(b).alias("band"), key.alias("band_key")))
    banded = per_band[0]
    for extra in per_band[1:]:
        banded = banded.unionByName(extra)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, on=["band", "band_key"])
            .where((F.col("a.large") == F.col("b.large"))
                   & (F.col("a.entity_id") < F.col("b.entity_id")))
            .select(F.col("a.entity_id").alias("a_id"),
                    F.col("a.surface").alias("a_surface"),
                    F.col("b.entity_id").alias("b_id"),
                    F.col("b.surface").alias("b_surface"))
            .distinct())

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DoubleType())
    def jac(sa: pd.Series, sb: pd.Series) -> pd.Series:
        from ..kernel.jamo import jamo_shingles

        def j(x, y):
            a_, b_ = set(jamo_shingles(x or "")), set(jamo_shingles(y or ""))
            if not a_ or not b_:
                return 0.0
            return len(a_ & b_) / len(a_ | b_)
        return pd.Series([j(x, y) for x, y in zip(sa, sb)])

    return (cand.withColumn("jaccard", jac("a_surface", "b_surface"))
            .where(F.col("jaccard") >= jaccard_min)
            .select("a_id", "b_id", "jaccard"))


def fuzzy_alias_pairs(names: DataFrame, name_col: str = "name",
                      block_chars: int = 2, max_dist: int = 1,
                      min_len: int = 4) -> DataFrame:
    """Edit-distance alias pairing — the typo/transliteration-variant
    half of canonicalization that shingle-Jaccard misses (a 1-char
    edit in a short name moves many shingles; levenshtein sees one):
    (n1, n2, dist) for distinct names with n1 < n2 and
    levenshtein <= max_dist.

    Blocking: pairs are generated ONLY within (first block_chars
    chars) blocks, with the |len| difference bounded by max_dist in
    the join condition — per-block fan-out is O(block^2), never an
    all-pairs product, the same contract as alias_pairs' LSH
    blocking.  The documented miss: pairs differing inside the first
    block_chars chars (standard blocking trade-off; run once more
    with a suffix block to halve it).  levenshtein is JVM-side
    codegen in Spark and a built-in in DuckDB, so the oracle is
    exact."""
    n = (names.select(F.col(name_col).alias("n"))
         .where(F.length("n") >= min_len).distinct()
         .withColumn("blk", F.substring("n", 1, block_chars)))
    a, b = n.alias("a"), n.alias("b")
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.n") < F.col("b.n"))
                   & (F.abs(F.length("a.n") - F.length("b.n"))
                      <= max_dist))
            .select(F.col("a.n").alias("n1"), F.col("b.n").alias("n2"),
                    F.levenshtein("a.n", "b.n").alias("dist"))
            .where(F.col("dist") <= max_dist)
            .select("n1", "n2", F.col("dist").cast("int").alias("dist")))


def connected_components(edges: DataFrame, vertices: DataFrame,
                         id_col: str = "entity_id",
                         max_iters: int = 20) -> DataFrame:
    """Min-label propagation to fixpoint: (id_col, component).

    Each round: push current labels across edges both ways, take the
    min per vertex.  localCheckpoint truncates the growing plan; the
    loop exits when no label changes (bounded by max_iters — component
    diameters beyond that indicate a pathological blocking graph).

    DIAMETER CAVEAT: rounds = longest shortest path.  Alias/blocking
    graphs are dense star-ish clusters (diameter ~2-4), where this is
    the cheapest correct algorithm; for long-chain graphs (host link
    chains, path-shaped dedup graphs) use
    operators.graph.connected_components_star — O(log n) alternations
    regardless of diameter (q176: diameter-1250 chains, ~a dozen
    rounds).
    """
    e = edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().localCheckpoint()

    labels = vertices.select(F.col(id_col).alias("id"),
                             F.col(id_col).alias("comp")).localCheckpoint()
    for _ in range(max_iters):
        msgs = (e.join(labels, e.src == labels.id)
                .select(F.col("dst").alias("id"), F.col("comp")))
        new_labels = (labels.select("id", "comp").union(msgs)
                      .groupBy("id").agg(F.min("comp").alias("comp"))
                      .localCheckpoint())
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.comp") != F.col("o.comp"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id").alias(id_col), F.col("comp").alias("canonical_id"))


def canonical_map(entities_df: DataFrame, **lsh_kwargs) -> DataFrame:
    """entity_id -> canonical_id (min id in the alias component)."""
    pairs = alias_pairs(entities_df, **lsh_kwargs)
    return connected_components(pairs, entities_df)
