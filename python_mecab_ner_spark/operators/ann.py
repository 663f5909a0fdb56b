"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k against a query vector, pure
  SQL (zip_with + aggregate stay in codegen; the top-k is a global
  TakeOrderedAndProject — no full sort materialization).
- bucketed_topk: the scale path.  Bucket key =
  sign bits of strided dimensions per band (a fixed random-hyperplane
  LSH with axis-aligned planes — deterministic and cross-engine
  reproducible).  Candidates come only from the query's bucket, so a
  1000-executor scan prunes ~2^-b of the corpus per probe; the
  brute-force operator doubles as the recall baseline.
- quantize_embeddings / semantic_decontaminate: int8 quantization and
  an exact-integer cosine screen against a broadcast benchmark set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(emb_col, qvec: list[float]):
    q = F.array(*[F.lit(float(v)) for v in qvec])
    prods = F.zip_with(emb_col, q, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(emb_col):
    sq = F.aggregate(F.transform(emb_col, lambda x: x * x),
                     F.lit(0.0), lambda acc, x: acc + x)
    return F.sqrt(sq)


def cosine_to(emb_col, qvec: list[float]):
    import math
    qn = math.sqrt(sum(v * v for v in qvec)) or 1.0
    return _dot(emb_col, qvec) / (_norm(emb_col) * F.lit(qn))


def brute_force_topk(df: DataFrame, qvec: list[float], k: int = 10,
                     id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: (vec_id, rank).  Integer output columns so
    the correctness oracle hash-matches; ties broken by id."""
    from pyspark.sql import Window
    scored = df.select(F.col(id_col),
                       cosine_to(F.col(emb_col), qvec).alias("cos"))
    # distributed TakeOrderedAndProject first; the rank window then
    # only ever sees k rows (never a global single-partition sort)
    topk = scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (topk.withColumn("rank", F.row_number().over(w))
            .select(id_col, "rank"))


def adaptive_bits(n_vectors: int, target_bucket_size: int = 64,
                  max_bits: int = 16) -> int:
    """Corpus-scaled LSH width: b = ceil(log2(n / target_bucket_size)),
    clamped to [1, max_bits].  A FIXED b means bucket population grows
    linearly with the corpus and the within-bucket self-join trends
    O(n^2 / 2^b); scaling b with n keeps expected bucket size at
    target_bucket_size, so per-bucket work is constant at any corpus
    size (the same move the MinHash band path makes implicitly)."""
    import math
    return max(1, min(max_bits,
                      math.ceil(math.log2(max(1.0, n_vectors / target_bucket_size)))))


def _band_key(emb_col, band: int, bits: int, n_bands: int):
    """Sign bits of STRIDED dims (band b, bit i -> dim b + i*n_bands):
    bands stay independent for any bits <= dim/n_bands."""
    return sum((F.when(F.element_at(emb_col, band + i * n_bands + 1) >= 0,
                       F.lit(1 << i)).otherwise(F.lit(0)) for i in range(bits)),
               F.lit(0)).cast("int")


MULTIPROBE_SINGLES = 6   # flip each of the T1 lowest-|margin| bits
MULTIPROBE_PAIRS = 4     # flip pairs among the T2 lowest-|margin| bits


def probe_keys(qvec: list[float], band: int, bits: int, n_bands: int,
               t_singles: int = MULTIPROBE_SINGLES,
               t_pairs: int = MULTIPROBE_PAIRS) -> list[int]:
    """Query-directed multi-probe key set for one band (Lv et al.,
    'Multi-Probe LSH', VLDB'07 adapted to sign bits): the query's own
    key, plus single flips of the t_singles bits whose dimensions lie
    closest to the separating hyperplane (smallest |value| — most
    likely to disagree for a true neighbor), plus pair flips among the
    t_pairs lowest.  Deterministic tie-break (|margin| asc, bit asc)
    so the SQL twin reproduces the exact set."""
    from itertools import combinations
    qkey = 0
    margins = []
    for i in range(bits):
        idx = band + i * n_bands
        if idx >= len(qvec):
            continue
        if qvec[idx] >= 0:
            qkey |= 1 << i
        margins.append((abs(qvec[idx]), i))
    margins.sort()
    singles = [i for _, i in margins[:t_singles]]
    pair_bits = [i for _, i in margins[:t_pairs]]
    keys = {qkey}
    keys.update(qkey ^ (1 << i) for i in singles)
    keys.update(qkey ^ (1 << i) ^ (1 << j)
                for i, j in combinations(pair_bits, 2))
    return sorted(keys)


def probes_per_band(t_singles: int = MULTIPROBE_SINGLES,
                    t_pairs: int = MULTIPROBE_PAIRS) -> int:
    return 1 + t_singles + t_pairs * (t_pairs - 1) // 2


def bucketed_topk(df: DataFrame, qvec: list[float], k: int = 10,
                  bits: int | None = None, n_bands: int = 4,
                  target_bucket_size: int = 64,
                  multiprobe: tuple | None = (MULTIPROBE_SINGLES,
                                              MULTIPROBE_PAIRS),
                  id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """ANN top-k over the query's banded sign-LSH candidates: vectors
    colliding with the query in ANY band, exact cosine top-k among
    them.  With `multiprobe=(T1, T2)` each band probes the
    query-directed Hamming neighborhood (probe_keys) instead of one
    bucket — recall rises steeply at near-constant scan fraction
    because bits are scaled UP by the probe count (the corpus-scaled
    width keeps candidates ~n_bands x probes x n / 2^bits).  The band
    predicates are plain filters -> partition-prunable when the table
    is written partitioned by a band key."""
    t1, t2 = multiprobe if multiprobe else (0, 0)
    if bits is None:
        # probe-aware width: candidates/band ~ probes * n / 2^bits, so
        # solve 2^bits ~ probes * n / target; the strided band layout
        # caps bits at dim / n_bands (bands must stay independent)
        p = probes_per_band(t1, t2)
        bits = adaptive_bits(df.count() * p, target_bucket_size,
                             max_bits=max(1, min(16, len(qvec) // n_bands)))
    pred = None
    for band in range(n_bands):
        keys = probe_keys(qvec, band, bits, n_bands, t1, t2)
        p_band = _band_key(F.col(emb_col), band, bits, n_bands).isin(keys)
        pred = p_band if pred is None else (pred | p_band)
    cand = df.filter(pred)
    scored = cand.select(F.col(id_col),
                         cosine_to(F.col(emb_col), qvec).alias("cos"))
    return (scored.orderBy(F.col("cos").desc(), F.col(id_col).asc())
            .limit(k).select(id_col))


# ---- int8 quantization ----------------------------------------------------

QUANT_SCALE = 127


def quantize_embeddings(df: DataFrame, emb_col: str = "embedding",
                        scale: int = QUANT_SCALE,
                        out_col: str = "qemb") -> DataFrame:
    """Symmetric int8-style quantization: q_i = clip(floor(x_i*scale),
    -128, 127), as a pure array transform (codegen, no Python).

    floor (not round) keeps the value bit-stable across engines:
    float32 -> double widening is exact and the double multiply is
    IEEE-deterministic, so floor agrees everywhere; round's half-way
    tie rules differ by engine.  At 100 TB this cuts the ANN working
    set 4x (int8 vs float32) and turns the distance kernel into
    integer MACs — the standard memory-bandwidth lever for
    billion-vector scans."""
    q = F.transform(
        F.col(emb_col),
        lambda x: F.greatest(
            F.lit(-128).cast("bigint"),
            F.least(F.lit(127).cast("bigint"),
                    F.floor(x.cast("double") * F.lit(float(scale))))))
    return df.withColumn(out_col, q)


def semantic_decontaminate(corpus: DataFrame, bench: DataFrame,
                           t_num: int = 3, t_den: int = 10,
                           id_col: str = "vec_id",
                           emb_col: str = "embedding",
                           bench_id_col: str = "bench_id",
                           scale: int = QUANT_SCALE) -> DataFrame:
    """Embedding-level benchmark decontamination: flag corpus vectors
    whose cosine against ANY benchmark vector reaches t_num/t_den —
    the screen that catches paraphrased eval leakage n-gram collision
    misses (Phi-style decontamination).

    The test is EXACT INTEGER end-to-end: both sides int8-quantized
    (quantize_embeddings' floor-clip rule), cosine >= t decided by
    cross-multiplication of squares

        dot > 0  AND  dot^2 * t_den^2 >= t_num^2 * |c|^2 * |b|^2

    so no sqrt and no float division touches the verdict.  Overflow
    headroom: dot <= scale^2 * dim, so t_den^2 * (scale^2 * dim)^2
    must stay under 2^63 — at scale=127, t_den<=10 that is dim <=
    ~1500; for wider embeddings cast the two comparison sides to
    decimal(38,0) (the comparison, not the representation, is the
    contract).

    Returns flagged corpus rows only: (id_col, n_hits, max_dot) —
    how many benchmark vectors the row collides with and the largest
    integer dot among them.

    Scale shape: the benchmark side is eval-set-sized (thousands) and
    is BROADCAST; the corpus side is one linear scan with integer
    MACs, per-row fan-out = |bench|, one map-side-combinable groupBy
    on the corpus id.  At 100 TB with a large bench union, prefilter
    candidates with the banded-LSH path in this module and run this
    exact kernel on the survivors."""
    cq = quantize_embeddings(corpus, emb_col, scale, out_col="cq")
    bq = quantize_embeddings(bench, emb_col, scale, out_col="bq")
    n2 = lambda col: F.aggregate(  # noqa: E731
        F.transform(F.col(col), lambda x: x * x),
        F.lit(0).cast("bigint"), lambda a, x: a + x)
    c = cq.select(F.col(id_col), F.col("cq"), n2("cq").alias("cn2"))
    b = bq.select(F.col(id_col).alias(bench_id_col), F.col("bq"),
                  n2("bq").alias("bn2"))
    dot = F.aggregate(
        F.zip_with(F.col("cq"), F.col("bq"), lambda x, y: x * y),
        F.lit(0).cast("bigint"), lambda a, x: a + x)
    return (c.crossJoin(F.broadcast(b))
            .select(F.col(id_col), dot.alias("dot"), "cn2", "bn2")
            .where((F.col("dot") > 0)
                   & (F.col("dot") * F.col("dot") * F.lit(t_den * t_den)
                      >= F.lit(t_num * t_num) * F.col("cn2") * F.col("bn2")))
            .groupBy(id_col)
            .agg(F.count("*").cast("bigint").alias("n_hits"),
                 F.max("dot").cast("bigint").alias("max_dot")))
