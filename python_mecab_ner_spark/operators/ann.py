"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k against a query vector, pure
  SQL (zip_with + aggregate stay in codegen; the top-k is a global
  TakeOrderedAndProject — no full sort materialization).
- banded_sign_buckets / bucketed_topk: the scale path.  Bucket key =
  sign bits of strided dimensions per band (a fixed random-hyperplane
  LSH with axis-aligned planes — deterministic and cross-engine
  reproducible).  Candidates come only from the query's bucket, so a
  1000-executor scan prunes ~2^-b of the corpus per probe; the
  brute-force operator doubles as the recall baseline.
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


def banded_sign_buckets(df: DataFrame, bits: int, n_bands: int = 4,
                        emb_col: str = "embedding") -> DataFrame:
    """(id cols..., band_idx, band_key): one row per (vector, band).
    Multi-band sign-LSH — a pair is a candidate if it collides in ANY
    band, which recovers the recall a single wide bucket loses while
    keeping per-band bucket size ~n/2^bits."""
    bands = F.array(*[
        F.struct(F.lit(b).alias("band_idx"),
                 _band_key(F.col(emb_col), b, bits, n_bands).alias("band_key"))
        for b in range(n_bands)])
    return (df.select("*", F.explode(bands).alias("_bk"))
            .withColumn("band_idx", F.col("_bk.band_idx"))
            .withColumn("band_key", F.col("_bk.band_key"))
            .drop("_bk"))


def _pair_cosine(a_col, b_col):
    """Cosine between two embedding columns (codegen-side: zip_with dot
    + aggregate norms, accumulated in double)."""
    dot = F.aggregate(F.zip_with(a_col, b_col, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return dot / (_norm(a_col) * _norm(b_col))


def embedding_neardup_pairs(df: DataFrame, threshold: float = 0.4,
                            bits: int | None = None, n_bands: int = 4,
                            target_bucket_size: int = 64,
                            id_col: str = "vec_id",
                            emb_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate candidate pairs (the dedup
    family's ANN member): banded sign-LSH both sides, self-join on
    (band_idx, band_key) only, distinct pairs, keep cosine >= threshold.

    The band join is the 100 TB path — bits is CORPUS-SCALED
    (adaptive_bits: ceil(log2(n / target_bucket_size))) so expected
    band-bucket population stays ~target_bucket_size at any corpus
    size; pair work is O(n_bands x n x target), linear in n, never the
    O(n^2/2^b) a fixed-width bucket decays to.  Multi-band union
    recovers the recall a single wide bucket loses.

    The threshold gates PAIR MEMBERSHIP (not just ordering), so the
    cosine must be bit-stable across engines: embeddings are cast to
    double BEFORE the dot/norms (both engines then accumulate the same
    doubles left-to-right) and the comparison uses a 6-dp rounded
    cosine so any residual last-ulp divergence cannot flip a row."""
    if bits is None:
        # one count action to size the LSH (parquet footer metadata for
        # raw tables); callers that already know the corpus size should
        # pass bits= explicitly to skip it
        bits = adaptive_bits(df.count(), target_bucket_size)
    dbl = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    banded = banded_sign_buckets(df.select(id_col, emb_col), bits, n_bands,
                                 emb_col)
    a = banded.alias("a")
    c = banded.alias("c")
    cand = (a.join(c, on=["band_idx", "band_key"])
            .where(F.col(f"a.{id_col}") < F.col(f"c.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("vec_a"),
                    F.col(f"c.{id_col}").alias("vec_b"))
            .distinct())
    emb = df.select(F.col(id_col), dbl.alias(emb_col))
    return (cand
            .join(emb.select(F.col(id_col).alias("vec_a"),
                             F.col(emb_col).alias("_ea")), on="vec_a")
            .join(emb.select(F.col(id_col).alias("vec_b"),
                             F.col(emb_col).alias("_eb")), on="vec_b")
            .where(F.round(_pair_cosine(F.col("_ea"), F.col("_eb")), 6)
                   >= threshold)
            .select("vec_a", "vec_b"))


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


KM_ITERS = 2       # unrolled Lloyd iterations (same count in the SQL twin)
KM_SALT = "km:"    # seeded-sample salt
KM_ROUND = 6       # centroid rounding: absorbs cross-engine avg() ulp drift


def kmeans_codebook(df: DataFrame, n_cells: int = 16,
                    iters: int = KM_ITERS,
                    id_col: str = "vec_id",
                    emb_col: str = "embedding") -> DataFrame:
    """Seeded k-means codebook as pure DataFrame Lloyd iterations:

    - init: the n_cells vectors with the smallest md5(salt||id) — a
      deterministic pseudo-random sample (SQL-expressible, unlike
      rand());
    - each iteration: broadcast-assign every vector to its nearest
      centroid by cosine (rank-1, ties by cell id), then recompute
      centroids as the per-dimension mean via posexplode + groupBy
      (map-side combinable — one linear pass per iteration at any
      corpus size), ROUNDED to 6 dp so engine-order-dependent float
      summation cannot produce divergent codebooks cross-engine.

    The codebook is n_cells rows; callers broadcast it.  Centroids are
    collected driver-side between iterations (n_cells rows) so the
    lazy plan does not nest one iteration inside the next."""
    from ..functions.hashing import md5_int

    dbl = F.transform(F.col(emb_col), lambda x: F.round(x.cast("double"),
                                                        KM_ROUND))
    vecs = df.select(F.col(id_col), dbl.alias(emb_col))
    init = (vecs
            .withColumn("_h", md5_int(F.concat(F.lit(KM_SALT),
                                               F.col(id_col).cast("string"))))
            .orderBy(F.col("_h").asc(), F.col(id_col).asc())
            .limit(n_cells))
    from pyspark.sql import Window
    wseed = Window.orderBy(F.col("_h").asc(), F.col(id_col).asc())
    cents = (init.withColumn("cell_id",
                             (F.row_number().over(wseed) - 1).cast("int"))
             .select("cell_id", F.col(emb_col).alias("cent_emb")))

    for _ in range(iters):
        assigned = _assign_cells(vecs, cents, id_col, emb_col)
        dims = (assigned
                .select("cell_id", F.posexplode(emb_col).alias("dim", "v"))
                .groupBy("cell_id", "dim")
                .agg(F.round(F.avg("v"), KM_ROUND).alias("mv")))
        new_cents = (dims.groupBy("cell_id")
                     .agg(F.transform(
                         F.array_sort(F.collect_list(F.struct("dim", "mv"))),
                         lambda s: s.mv).alias("cent_emb")))
        rows = new_cents.collect()  # n_cells tiny rows: plan reset
        cents = df.sparkSession.createDataFrame(
            [(int(r.cell_id), [float(x) for x in r.cent_emb]) for r in rows],
            "cell_id int, cent_emb array<double>")
    return cents


def _assign_cells(vecs: DataFrame, cents: DataFrame,
                  id_col: str, emb_col: str) -> DataFrame:
    """Nearest-centroid assignment: broadcast nested-loop over n_cells
    candidates (O(n x n_cells), no shuffle) + rank-1 window keyed by
    the high-cardinality vector id."""
    from pyspark.sql import Window
    scored = (vecs.crossJoin(F.broadcast(cents))
              .withColumn("cos", _pair_cosine(F.col(emb_col),
                                              F.col("cent_emb"))))
    w = Window.partitionBy(id_col).orderBy(F.col("cos").desc(),
                                           F.col("cell_id").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .select(id_col, emb_col, "cell_id"))


def ivf_cells(df: DataFrame, n_cells: int = 16,
              id_col: str = "vec_id", emb_col: str = "embedding",
              codebook: DataFrame | None = None) -> DataFrame:
    """Coarse quantization: assign every vector to its nearest codebook
    centroid by cosine (rank-1 per vector, ties by centroid id).

    The codebook defaults to the seeded k-means of kmeans_codebook (at
    production scale: train on a sample, broadcast — same shape)."""
    cents = codebook if codebook is not None else \
        kmeans_codebook(df, n_cells, id_col=id_col, emb_col=emb_col)
    dbl = F.transform(F.col(emb_col),
                      lambda x: F.round(x.cast("double"), KM_ROUND))
    vecs = df.select(F.col(id_col), dbl.alias(emb_col))
    return _assign_cells(vecs, cents, id_col, emb_col)


def ivf_topk(df: DataFrame, qvec: list[float], k: int = 10,
             n_cells: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", emb_col: str = "embedding",
             codebook: DataFrame | None = None) -> DataFrame:
    """IVF search over the trained (seeded k-means) codebook: probe
    the query's n_probe nearest cells, exact cosine top-k inside them.
    The scan prunes to ~n_probe/n_cells of the corpus; with the
    assignment table written partitioned by cell_id the probe is
    partition pruning, not a filter.  The n_cells-row codebook is
    collected driver-side for probe selection — the standard broadcast
    pattern, not a data collect."""
    import math
    cents = codebook if codebook is not None else \
        kmeans_codebook(df, n_cells, id_col=id_col, emb_col=emb_col)
    assigned = ivf_cells(df, n_cells, id_col, emb_col, codebook=cents)
    cent_rows = cents.collect()
    qr = [round(float(v), KM_ROUND) for v in qvec]
    qn = math.sqrt(sum(v * v for v in qr)) or 1.0

    def cos(emb):
        n = math.sqrt(sum(v * v for v in emb)) or 1.0
        return sum(a * b for a, b in zip(emb, qr)) / (n * qn)

    probe = [r.cell_id for r in sorted(
        cent_rows, key=lambda r: (-cos(r.cent_emb), r.cell_id))[:n_probe]]
    cand = assigned.filter(F.col("cell_id").isin(probe))
    scored = cand.select(F.col(id_col),
                         cosine_to(F.col(emb_col), qvec).alias("cos"))
    from pyspark.sql import Window
    topk = scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (topk.withColumn("rank", F.row_number().over(w).cast("int"))
            .select(id_col, "rank"))


# ---- int8 quantization (the PQ-style compression path) --------------------

QUANT_SCALE = 127


def quantize_vec(xs, scale: int = QUANT_SCALE) -> list[int]:
    """Driver-side twin of quantize_embeddings for the query vector."""
    import math
    return [max(-128, min(127, math.floor(float(x) * scale))) for x in xs]


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


def quantized_topk(df: DataFrame, qvec: list[float], k: int = 10,
                   id_col: str = "vec_id", emb_col: str = "embedding",
                   scale: int = QUANT_SCALE) -> DataFrame:
    """Top-k by EXACT integer dot product of int8-quantized vectors:
    (vec_id, qdot, rank).  The integer scores make the result
    hash-stable cross-engine (float cosine can only ever oracle on
    rank).  Same top-k shape as brute_force_topk: distributed
    TakeOrderedAndProject, rank window sees only k rows."""
    from pyspark.sql import Window
    qq = quantize_vec(qvec, scale)
    qlit = F.array(*[F.lit(v).cast("bigint") for v in qq])
    qz = quantize_embeddings(df, emb_col, scale)
    dot = F.aggregate(
        F.zip_with(F.col("qemb"), qlit, lambda a, b: a * b),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    scored = qz.select(F.col(id_col), dot.alias("qdot"))
    topk = (scored.orderBy(F.col("qdot").desc(), F.col(id_col).asc())
            .limit(k))
    w = Window.orderBy(F.col("qdot").desc(), F.col(id_col).asc())
    return (topk.withColumn("rank", F.row_number().over(w).cast("int"))
            .select(id_col, F.col("qdot").cast("bigint").alias("qdot"),
                    "rank"))


def embedding_dim_outliers(df: DataFrame, id_col: str = "vec_id",
                           emb_col: str = "embedding", z10: int = 30,
                           scale: int = QUANT_SCALE) -> DataFrame:
    """Per-dimension outlier audit of an embedding table — the
    data-quality gate an embedding pipeline runs before ANN indexing
    or SemDeDup: a vector whose value in some dimension sits far
    outside that dimension's corpus distribution is a broken encode
    (truncated input, NaN-squashed batch, wrong normalization), and
    dropping or re-encoding those is standard curation hygiene.

    The z-test is EXACT INTEGER by cross-multiplication — no sqrt, no
    float mean/std that would drift cross-engine:

        dim j is extreme for vector v   iff
        (x*n - s_j)^2 * 100  >  z10^2 * (n*ss_j - s_j^2)

    which is |x - mean_j| > (z10/10) * sd_j with both sides squared
    and cleared of the 1/n^2 denominators (they cancel exactly).  x is
    the q51 floor-clip int8 quantization, so every operand is a
    deterministic bigint.  Overflow headroom: |x*n| <= 128n, so the
    lhs square needs n <= ~2^26 in int64; beyond that cast the two
    test sides to decimal(38,0) (exact to n ~ 3e9) — the comparison,
    not the representation, is the contract.

    Returns one row per vector: (vec_id, n_extreme, first_dim) with
    n_extreme = count of flagged dimensions and first_dim the
    smallest flagged dimension index (-1 if clean) — integers, exact
    DuckDB twin.

    Scale shape: one posexplode (dim fan-out is the fixed embedding
    width), ONE map-side-combinable aggregate on the dim key (output
    is dimension-sized: 64 rows), broadcast back, one combinable
    per-vector aggregate.  No window, no self-join."""
    qz = quantize_embeddings(df, emb_col, scale)
    dims = qz.select(F.col(id_col).alias("vec_id"),
                     F.posexplode("qemb").alias("dim", "x"))
    stats = dims.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("x").cast("bigint").alias("_s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("_ss"))
    lhs = F.col("x") * F.col("_n") - F.col("_s")
    nvar = F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s")
    flag = (lhs * lhs * F.lit(100) > F.lit(z10 * z10) * nvar)
    return (dims.join(F.broadcast(stats), "dim")
            .select("vec_id", "dim", flag.alias("_f"))
            .groupBy("vec_id")
            .agg(F.sum(F.col("_f").cast("int")).cast("bigint")
                 .alias("n_extreme"),
                 F.coalesce(F.min(F.when(F.col("_f"), F.col("dim"))),
                            F.lit(-1)).cast("int").alias("first_dim")))


def semdedup_pairs(df: DataFrame, threshold: int, n_cells: int = 16,
                   id_col: str = "vec_id", emb_col: str = "embedding",
                   codebook: DataFrame | None = None,
                   scale: int = QUANT_SCALE) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    the embedding space with the seeded k-means codebook, then find
    near-duplicate pairs ONLY within each cluster — the clustering
    caps the quadratic pair term at O(sum cell_size^2) instead of
    O(n^2), which is the entire scale story of semantic dedup on
    billion-document corpora.  Within-cell similarity is the EXACT
    int8-quantized integer dot product (the q51 kernel), so the
    operator is hash-exact cross-engine end-to-end: deterministic
    seeded k-means (6-dp-rounded Lloyd means) + floor quantization +
    integer MACs.

    Returns (a, b, cell_id, qdot) for same-cell pairs with
    qdot >= threshold, a < b.

    Recall caveat (inherent to SemDeDup): a near-dup pair split
    across two cells is missed; raise n_cells more slowly than the
    corpus or add a second codebook pass for higher recall.  Skew
    guard at 100 TB: a mega-cell re-enters quadratic territory —
    monitor cell sizes (one aggregate) and split outliers by a
    secondary hash before the self-join."""
    cells = ivf_cells(df, n_cells, id_col=id_col, emb_col=emb_col,
                      codebook=codebook)
    # the self-join reads this subtree twice; persist materializes the
    # k-means assignment once (released via .unpersist_input)
    qz = (quantize_embeddings(cells, emb_col, scale)
          .select(F.col(id_col), F.col("cell_id"), F.col("qemb"))
          .persist())
    a, b = qz.alias("a"), qz.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.qemb"), F.col("b.qemb"), lambda x, y: x * y),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    out = (a.join(b, (F.col("a.cell_id") == F.col("b.cell_id"))
                  & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
           .select(F.col(f"a.{id_col}").cast("bigint").alias("a"),
                   F.col(f"b.{id_col}").cast("bigint").alias("b"),
                   F.col("a.cell_id").cast("int").alias("cell_id"),
                   dot.alias("qdot"))
           .where(F.col("qdot") >= threshold))
    out.unpersist_input = qz.unpersist
    return out


def gram_matrix(df: DataFrame, emb_col: str = "embedding",
                scale: int = QUANT_SCALE) -> DataFrame:
    """Integer Gram (second-moment) matrix of the int8-quantized
    embeddings: rows (i, j, s) for i <= j with s = sum over vectors of
    q_i * q_j — the statistic behind embedding whitening /
    'all-but-the-top' dominant-component removal.  Exact integers (the
    quantization is the q51 bit-stable floor clip), so the DuckDB twin
    hash-matches; the eigen step runs client-side on the dim x dim
    matrix (dominant_component), like hll_estimate keeps floats out of
    the engine.

    Scale shape: per-row upper-triangle outer product (dim*(dim+1)/2
    structs ride in one array, exploded) -> ONE combinable sum keyed
    by (i, j) — a fixed 2080-key space at dim 64, so the reduce is
    dimension-sized no matter how many vectors flow through."""
    q = quantize_embeddings(df, emb_col).select("qemb")
    cells = F.expr(
        "flatten(transform(sequence(0, size(qemb) - 1), i -> "
        "transform(sequence(i, size(qemb) - 1), j -> "
        "struct(i AS i, j AS j, qemb[i] * qemb[j] AS p))))")
    return (q.select(F.explode(cells).alias("c"))
            .groupBy(F.col("c.i").cast("int").alias("i"),
                     F.col("c.j").cast("int").alias("j"))
            .agg(F.sum("c.p").cast("bigint").alias("s")))


def dominant_component(gram_rows, dim: int, iters: int = 50):
    """Client-side power iteration on the (i, j, s) Gram rows: the
    dominant direction to remove ('all-but-the-top').  Floats by
    design — outside the engine/oracle boundary."""
    import numpy as np
    g = np.zeros((dim, dim))
    for i, j, s in gram_rows:
        g[i][j] = g[j][i] = float(s)
    v = np.ones(dim) / dim ** 0.5
    for _ in range(iters):
        v = g @ v
        v /= np.linalg.norm(v) or 1.0
    return v


# ---------------------------------------------------------------------------
# Product quantization (Jegou/Douze/Schmid 2011): m subspace codebooks,
# vectors stored as m small codes, queries scanned via an ADC lookup
# table — the memory-compression member of the ANN family (int8 cuts
# 4x, PQ cuts dims*4 bytes -> m bytes, the billion-vector RAM lever).
# Codebooks here are the DETERMINISTIC SEEDED SAMPLE (the
# kmeans_codebook seed rule without Lloyd refinement) over the int8-
# quantized subvectors, so every distance is an exact bigint and the
# whole pipeline hash-matches a SQL oracle; production swaps in
# kmeans_codebook per subspace through the same (j, c, cent) shape.
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces
PQ_KS = 16      # centroids per subspace
PQ_SALT = "pq:"
PQ_PACK = 1 << 10   # packed argmin: d2 * PACK + c (d2 <= 8*255^2 << 2^53)


def pq_codebook(df: DataFrame, m: int = PQ_M, ks: int = PQ_KS,
                id_col: str = "vec_id", emb_col: str = "embedding",
                dims: int | None = None,
                scale: int = QUANT_SCALE) -> DataFrame:
    """(j, c, cent) codebook rows: subspace j in [0, m), centroid c in
    [0, ks), cent = the int8-quantized j-th subvector of the c-th seed
    vector (seeds = ks smallest md5(salt||id), the kmeans_codebook
    seed rule).  ks*m tiny rows — callers broadcast."""
    from pyspark.sql import Window

    from ..functions.hashing import md5_int
    if dims is None:
        dims = len(df.select(emb_col).first()[0])
    sub = dims // m
    qz = quantize_embeddings(df, emb_col, scale)
    wseed = Window.orderBy(F.col("_h").asc(), F.col(id_col).asc())
    seeds = (qz.withColumn("_h", md5_int(F.concat(
                 F.lit(PQ_SALT), F.col(id_col).cast("string"))))
             .orderBy(F.col("_h").asc(), F.col(id_col).asc())
             .limit(ks)
             .withColumn("c", (F.row_number().over(wseed) - 1)
                         .cast("int")))
    per_j = F.array(*[
        F.struct(F.lit(j).cast("int").alias("j"),
                 F.slice(F.col("qemb"), j * sub + 1, sub).alias("cent"))
        for j in range(m)])
    return (seeds.select("c", F.explode(per_j).alias("s"))
            .select(F.col("s.j").alias("j"), "c",
                    F.col("s.cent").alias("cent")))


def _l2sq(a_col, b_col):
    """Exact integer squared L2 between two bigint arrays."""
    return F.aggregate(
        F.zip_with(a_col, b_col, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def pq_encode(df: DataFrame, codebooks: DataFrame, m: int = PQ_M,
              id_col: str = "vec_id", emb_col: str = "embedding",
              dims: int | None = None,
              scale: int = QUANT_SCALE) -> DataFrame:
    """(vec_id, j, code): nearest codebook centroid per subspace by
    exact integer L2^2, ties -> min centroid id via the packed-integer
    min (house argmax pattern, inverted).

    Scale shape: subvector explode (m rows per vector) x BROADCAST
    codebook (ks*m rows) -> partial-min before the single
    (vec_id, j)-keyed shuffle — the reduction runs map-side, so the
    exchange carries m rows per vector, not m*ks."""
    if dims is None:
        dims = len(df.select(emb_col).first()[0])
    sub = dims // m
    qz = quantize_embeddings(df, emb_col, scale)
    subs = F.array(*[
        F.struct(F.lit(j).cast("int").alias("j"),
                 F.slice(F.col("qemb"), j * sub + 1, sub).alias("sv"))
        for j in range(m)])
    sv = (qz.select(F.col(id_col), F.explode(subs).alias("s"))
          .select(id_col, F.col("s.j").alias("j"),
                  F.col("s.sv").alias("sv")))
    packed = (_l2sq(F.col("sv"), F.col("cent")) * F.lit(PQ_PACK)
              + F.col("c"))
    return (sv.join(F.broadcast(codebooks), "j")
            .select(id_col, "j", packed.alias("_p"))
            .groupBy(id_col, "j")
            .agg(F.min("_p").alias("_mn"))
            .select(id_col, "j",
                    F.col("_mn").bitwiseAND(F.lit(PQ_PACK - 1))
                    .cast("int").alias("code")))


def pq_topk(df: DataFrame, qvec: list[float], k: int = 10,
            m: int = PQ_M, ks: int = PQ_KS,
            id_col: str = "vec_id", emb_col: str = "embedding",
            dims: int | None = None,
            scale: int = QUANT_SCALE) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: score(v) = sum_j
    LUT[j][code_j(v)] where LUT[j][c] = L2^2(q's j-th int8 subvector,
    centroid (j, c)) — the query touches only the m-byte codes, never
    the vectors.  Returns (vec_id, pq_dist, rank), ascending distance,
    ties -> min id.

    Scale shape: encode's one combinable shuffle + a BROADCAST join
    of the ks*m-row LUT into the code stream + one combinable per-id
    sum + TakeOrderedAndProject.  At 100 TB the codes table is
    dims*4/m x smaller than the embeddings — the point of PQ."""
    if dims is None:
        dims = len(df.select(emb_col).first()[0])
    sub = dims // m
    cb = pq_codebook(df, m, ks, id_col, emb_col, dims, scale)
    codes = pq_encode(df, cb, m, id_col, emb_col, dims, scale)
    qq = quantize_vec(qvec, scale)
    qsubs = {j: qq[j * sub:(j + 1) * sub] for j in range(m)}
    qlit = F.array(*[F.array(*[F.lit(v).cast("bigint") for v in qsubs[j]])
                     for j in range(m)])
    lut = cb.select("j", F.col("c").alias("code"),
                    _l2sq(F.col("cent"),
                          F.element_at(qlit, F.col("j") + 1))
                    .alias("qd"))
    scored = (codes.join(F.broadcast(lut), ["j", "code"])
              .groupBy(id_col)
              .agg(F.sum("qd").cast("bigint").alias("pq_dist")))
    from pyspark.sql import Window
    topk = (scored.orderBy(F.col("pq_dist").asc(), F.col(id_col).asc())
            .limit(k))
    w = Window.orderBy(F.col("pq_dist").asc(), F.col(id_col).asc())
    return (topk.withColumn("rank", F.row_number().over(w).cast("int"))
            .select(id_col, "pq_dist", "rank"))


def semantic_decontaminate(corpus: DataFrame, bench: DataFrame,
                           t_num: int = 3, t_den: int = 10,
                           id_col: str = "vec_id",
                           emb_col: str = "embedding",
                           bench_id_col: str = "bench_id",
                           scale: int = QUANT_SCALE) -> DataFrame:
    """Embedding-level benchmark decontamination (the semantic
    counterpart of dedup.ngram_collisions / q46): flag corpus vectors
    whose cosine against ANY benchmark vector reaches t_num/t_den —
    the screen that catches paraphrased eval leakage n-gram collision
    misses (Phi-style decontamination).

    The test is EXACT INTEGER end-to-end: both sides int8-quantized
    (q51's floor-clip rule), cosine >= t decided by
    cross-multiplication of squares

        dot > 0  AND  dot^2 * t_den^2 >= t_num^2 * |c|^2 * |b|^2

    so no sqrt and no float division touches the verdict.  Overflow
    headroom: dot <= scale^2 * dim, so t_den^2 * (scale^2 * dim)^2
    must stay under 2^63 — at scale=127, t_den<=10 that is dim <=
    ~1500; for wider embeddings cast the two comparison sides to
    decimal(38,0) (the embedding_dim_outliers escape hatch — the
    comparison, not the representation, is the contract).

    Returns flagged corpus rows only: (id_col, n_hits, max_dot) —
    how many benchmark vectors the row collides with and the largest
    integer dot among them.

    Scale shape: the benchmark side is eval-set-sized (thousands) and
    is BROADCAST; the corpus side is one linear scan with integer
    MACs, per-row fan-out = |bench|, one map-side-combinable groupBy
    on the corpus id.  At 100 TB with a large bench union, prefilter
    candidates with the banded-LSH / IVF paths in this module and run
    this exact kernel on the survivors."""
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


def kcenter_centers(df: DataFrame, k: int = 5, id_col: str = "vec_id",
                    emb_col: str = "embedding",
                    scale: int = QUANT_SCALE,
                    id_bits: int = 36) -> DataFrame:
    """Gonzalez farthest-first traversal (k-center) over int8-
    quantized embeddings: the diversity-selection complement of
    SemDeDup — pick k maximally-spread exemplars (eval-set seeding,
    coreset anchors, annotation-batch diversification), where
    kmeans_codebook picks density centers and greedy_max_coverage
    picks coverage maximizers.  The classic 2-approximation to the
    optimal k-center radius, and its selection-time distances are a
    monotone non-increasing radius certificate.

    Round 1 seeds at the MIN id (content-deterministic, no RNG);
    each later round picks argmax over the running min-distance-to-
    nearest-center (exact integer squared L2 on int8 vectors — hash-
    stable cross-engine where float cosine is not), ties broken by
    min id via the house packed max, then folds the ONE new center
    into the running distance with a single broadcast 1-row join:
    d_r(p) = least(d_{r-1}(p), l2sq(p, c_r)).  No k-way cross join,
    no window; per round one broadcast join + one combinable max.
    The quantized table is localCheckpoint'ed once (k consumers);
    only k (round, id, dist) scalars reach the driver.

    int64 bounds: l2sq <= dim * 255^2; the pack needs l2sq <
    2^(62 - id_bits) and id < 2^id_bits, so the DEFAULTS hold to dim
    ~1,000 and 64G ids (a 4096-dim corpus needs id_bits <= 33) —
    enforced with an explicit ValueError, because a silent int64
    wrap would pick wrong centers without raising.  Duplicate-heavy
    degenerate inputs (max dist 0) still resolve deterministically
    (min id), matching the oracle's ORDER BY, so no early exit.

    Returns (round, center_id, dist): dist = the selected point's
    min squared distance to the prior centers (0 for the seed)."""
    cap = 1 << id_bits
    qz = (quantize_embeddings(df, emb_col, scale)
          .select(F.col(id_col).alias("pid"), F.col("qemb"))
          .localCheckpoint(eager=True))
    seed = qz.agg(F.min("pid")).collect()[0][0]
    if seed is None:
        return df.sparkSession.createDataFrame(
            [], "round int, center_id bigint, dist bigint")
    dim = qz.where(F.col("pid") == seed).select(F.size("qemb")).first()[0]
    if dim * 255 * 255 >= (1 << (62 - id_bits)):
        raise ValueError(
            f"kcenter_centers: dim {dim} overflows the packed argmax "
            f"at id_bits={id_bits} — lower id_bits (needs dim*255^2 "
            "< 2^(62-id_bits))")
    out = [(1, int(seed), 0)]
    cur, last = None, int(seed)
    for rnd in range(2, k + 1):
        cvec = F.broadcast(qz.where(F.col("pid") == last)
                           .select(F.col("qemb").alias("cq")))
        newd = _l2sq(F.col("qemb"), F.col("cq"))
        cur = ((qz if cur is None else cur).crossJoin(cvec)
               .select("pid", "qemb",
                       (newd if cur is None
                        else F.least(F.col("d"), newd)).alias("d"))
               .localCheckpoint(eager=True))
        packed = (F.col("d") * F.lit(cap)
                  + (F.lit(cap - 1) - F.col("pid")))
        mx = cur.agg(F.max(packed).alias("_mx")).collect()[0]["_mx"]
        dist = int(mx) >> id_bits
        last = (cap - 1) - (int(mx) % cap)
        out.append((rnd, last, dist))
    return df.sparkSession.createDataFrame(
        out, "round int, center_id bigint, dist bigint")
