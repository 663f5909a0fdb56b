"""Count-min sketch: sub-linear frequency summaries for heavy-hitter
queries over unbounded vocabularies.

At 100 TB an exact term-frequency table is corpus-vocabulary-sized
(billions of keys); a CM sketch is d x w integers REGARDLESS of
vocabulary — buildable in one map-side-combinable aggregate, mergeable
across partitions/days by cellwise addition, and broadcastable to
executors for constant-time frequency probes inside other operators
(quality gates, stopword detection, negative sampling).

Estimates are deterministic integers (md5-derived bucket hashes, min
over rows), so the whole path has an exact DuckDB oracle — the
overestimate bias of CM (est >= true, whp close) is visible in the
q71 output columns rather than hidden behind floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int


def _bucket(col, r: int, w: int):
    return F.pmod(md5_int(col, salt=f"cm{r}:"), F.lit(w))


def cm_sketch(tokens: DataFrame, term_col: str, d: int = 4,
              w: int = 256) -> DataFrame:
    """(r, b, cnt) sketch cells from a token stream: every token votes
    in d rows via independent salted hashes.  ONE scan (the d hashes
    ride in a per-row array, exploded), ONE combinable aggregate on
    the tiny (r, b) key space — no vocabulary-sized state anywhere."""
    cells = F.array(*[
        F.struct(F.lit(r).cast("int").alias("r"),
                 _bucket(F.col(term_col), r, w).cast("int").alias("b"))
        for r in range(d)])
    return (tokens.select(F.explode(cells).alias("c"))
            .groupBy(F.col("c.r").alias("r"), F.col("c.b").alias("b"))
            .agg(F.count("*").cast("bigint").alias("cnt")))


def cm_estimate(terms: DataFrame, sketch: DataFrame, term_col: str,
                d: int = 4, w: int = 256) -> DataFrame:
    """Point estimates: min over the d sketch cells a term hashes to.
    The sketch is d*w rows — broadcast, so probing any number of terms
    is a map-side join + one combinable min aggregate."""
    keys = F.array(*[
        F.struct(F.lit(r).cast("int").alias("r"),
                 _bucket(F.col(term_col), r, w).cast("int").alias("b"))
        for r in range(d)])
    probes = (terms.select(F.col(term_col).alias("term"),
                           F.explode(keys).alias("k"))
              .select("term", F.col("k.r").alias("r"),
                      F.col("k.b").alias("b")))
    # LEFT join + coalesce 0: the sketch table stores only touched
    # cells, and an untouched cell means count 0 — an inner join would
    # silently drop that probe and overestimate (or lose the term
    # entirely when all d cells are empty)
    return (probes.join(F.broadcast(sketch), ["r", "b"], "left")
            .groupBy("term")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .cast("bigint").alias("cm_est")))


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Merge CM sketches by cellwise addition — the algebraic property
    that makes the sketch maintainable incrementally: sketch(A ∪ B) ==
    merge(sketch(A), sketch(B)) exactly (proven by test).  A daily
    crawl keeps one sketch per partition/day and folds them without
    touching raw data; the merge is one combinable aggregate over
    d*w-row inputs."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return (u.groupBy("r", "b")
            .agg(F.sum("cnt").cast("bigint").alias("cnt")))


def bloom_build(keys: DataFrame, term_col: str, m_words: int = 256,
                k: int = 3) -> DataFrame:
    """Bloom-filter build over a key stream: the crawl-frontier
    "have we seen this url" structure — m_words 32-bit words
    REGARDLESS of key cardinality, built in ONE combinable bit_or
    aggregate and broadcastable into any probe-side plan.

    Each key sets k bits at pos_i = md5(salt_i || key) mod (32 *
    m_words); a word row is (word_idx, bits) with bits = OR of
    1 << (pos mod 32).  Only the LOW 32 bits of the BIGINT are used:
    1 << 63 overflows differently across engines, 1 << 31 does not —
    the same cross-engine-exactness discipline as the rest of the
    sketch family, so the filter TABLE itself has a DuckDB oracle.

    No false negatives ever; false-positive rate is the standard
    (1 - e^(-k*n/m))^k — size m_words to the seen-set estimate (an
    HLL over the same stream gives n for free).  Merge across
    days/partitions = wordwise bit_or (same algebra as cm_merge)."""
    nbits = 32 * m_words
    positions = F.array(*[
        F.pmod(md5_int(F.col(term_col), salt=f"bloom{i}:"), F.lit(nbits))
        for i in range(k)])
    # shiftleft with a COLUMN shift must go through F.expr: the
    # PySpark wrapper only accepts a literal int for numBits
    return (keys.select(F.explode(positions).alias("pos"))
            .groupBy(F.floor(F.col("pos") / 32).cast("int")
                     .alias("word_idx"))
            .agg(F.bit_or(F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"))
                 .cast("bigint").alias("bits")))


def bloom_probe(candidates: DataFrame, bloom: DataFrame, term_col: str,
                m_words: int = 256, k: int = 3) -> DataFrame:
    """Membership probe: a candidate is maybe-seen iff ALL k of its
    bits are set.  The filter is m_words rows — broadcast — so probing
    any number of candidates is a map-side join + one combinable min;
    an absent word row means those 32 bits are all zero (left join +
    coalesce 0, the same untouched-cell rule as cm_estimate).

    Returns (term, maybe_member) with maybe_member in {0, 1}."""
    nbits = 32 * m_words
    probes = F.array(*[
        F.pmod(md5_int(F.col(term_col), salt=f"bloom{i}:"), F.lit(nbits))
        for i in range(k)])
    p = (candidates.select(F.col(term_col).alias("term"),
                           F.explode(probes).alias("pos"))
         .select("term",
                 F.floor(F.col("pos") / 32).cast("int").alias("word_idx"),
                 F.expr("shiftleft(CAST(1 AS BIGINT), "
                        "CAST(pos % 32 AS INT))").alias("mask")))
    hit = F.when((F.coalesce(F.col("bits"), F.lit(0))
                  .bitwiseAND(F.col("mask"))) == F.col("mask"),
                 F.lit(1)).otherwise(F.lit(0))
    return (p.join(F.broadcast(bloom), "word_idx", "left")
            .groupBy("term")
            .agg(F.min(hit).cast("int").alias("maybe_member")))


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Wordwise bit_or — bloom(A ∪ B) == merge(bloom(A), bloom(B))
    exactly (same incremental-maintenance algebra as cm_merge /
    hll_merge / minhash_merge)."""
    u = filters[0]
    for f in filters[1:]:
        u = u.unionByName(f)
    return (u.groupBy("word_idx")
            .agg(F.bit_or("bits").cast("bigint").alias("bits")))


# 60-bit md5 hashes (functions.hashing md5_int) drive the HLL rho
_HLL_HASH_BITS = 60


def hll_registers(tokens: DataFrame, term_col: str,
                  n_registers: int = 64,
                  by: list[str] | None = None) -> DataFrame:
    """HyperLogLog register table for approximate distinct counts:
    bucket = hash mod m, rho = 1 + leading-zero-count of the remaining
    hash bits, register = MAX(rho) per bucket.  Integer-exact and
    mergeable (max), so the register TABLE is the oracle-checkable
    artifact; the float harmonic-mean estimate is a documented
    client-side formula over these 64 integers (kept out of the
    engine so nothing in the plan is float-ordered).

    rho via int/bit arithmetic only (n_registers must be a power of
    two): bucket = h & (m-1), payload h' = h >> log2(m) (54 bits at
    m=64), rho = 55 - bit_length(h'), and bit_length(x) = length of
    the base-2 string — the same bit-length idiom as the q38 idf.
    Float division would lose bits of a 60-bit hash (double holds 53);
    everything here is shift/mask.  ONE combinable max aggregate on a
    64-key space; merge across slices = elementwise max (hll_merge)."""
    shift = int(n_registers).bit_length() - 1
    assert (1 << shift) == n_registers, "n_registers must be 2^k"
    h = md5_int(F.col(term_col), salt="hll:")
    bucket = h.bitwiseAND(F.lit(n_registers - 1))
    hp = F.shiftright(h, shift)
    payload_bits = _HLL_HASH_BITS - shift
    # bit_length via base-2 string; hp == 0 -> full rho (all zeros)
    bl = F.when(hp > 0, F.length(F.conv(hp.cast("string"), 10, 2))) \
        .otherwise(F.lit(0))
    rho = (F.lit(payload_bits + 1) - bl).cast("int")
    by = by or []
    # `by` gives one sketch per group (per source/host/day — the
    # sketch-per-partition layout hll_merge later folds); key space is
    # groups x m, still dimension-sized
    return (tokens.select(*by, bucket.cast("int").alias("bucket"),
                          rho.alias("rho"))
            .groupBy(*by, "bucket")
            .agg(F.max("rho").alias("max_rho")))


def hll_merge(*tables: DataFrame) -> DataFrame:
    """Elementwise register max — hll(A ∪ B) == merge(hll(A), hll(B))
    exactly (tested), the incremental-maintenance property."""
    u = tables[0]
    for t in tables[1:]:
        u = u.unionByName(t)
    return u.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate(registers: list[int], n_registers: int = 64) -> float:
    """Client-side harmonic-mean estimate (documented formula; floats
    deliberately OUTSIDE the engine).  registers: max_rho per bucket,
    0 for empty buckets."""
    m = n_registers
    alpha = 0.709 if m == 64 else 0.7213 / (1 + 1.079 / m)
    z = sum(2.0 ** -r for r in registers)
    est = alpha * m * m / z
    if est <= 2.5 * m:
        zeros = sum(1 for r in registers if r == 0)
        if zeros:
            import math
            est = m * math.log(m / zeros)
    return est


def ams_f2(df: DataFrame, term_col: str, k: int = 16,
           salt: str = "ams") -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-moment sketch: estimate
    F2 = sum of squared term frequencies — which is EXACTLY the row
    count of the self-join on that term — in ONE combinable pass,
    next to the exact value for calibration.  The planner number the
    blocking family needs before committing to a key join (q171
    sorted-neighborhood / q172 prefix-filter pick their windows and
    thresholds against this; a skewed blocking key shows up as F2
    exploding while F1 stays flat), and the third sketch in the
    house set (HLL = distinct count / F0, CM = point frequency,
    AMS = join size / F2).

    Each estimator i draws a deterministic +-1 sign per term
    (md5-derived, cross-engine — the house hash) and sums it over
    the STREAM (one row per occurrence); E[Z_i^2] = F2 and k
    estimators average the variance down.  All k sums ride one
    aggregate (k conditional-sum columns, map-side combinable — no
    shuffle of the stream beyond the single agg), and the exact F2
    is a per-term count + sum of squares, the verification twin.

    Returns k rows: (est_id, z_sum, est_f2, exact_f2, mean_f2,
    err_ppm) with mean_f2 = floor-mean of the k estimates repeated
    per row and err_ppm = |est - exact| * 1e6 div exact."""
    from ..functions.hashing import md5_int
    aggs = []
    for i in range(k):
        sign = (F.lit(1) - 2 * (md5_int(F.col(term_col),
                                        salt=f"{salt}{i}:")
                                % F.lit(2)))
        aggs.append(F.sum(sign).alias(f"z{i}"))
    one = df.agg(*aggs)
    exact = (df.groupBy(term_col).agg(F.count("*").alias("c"))
             .agg(F.sum(F.col("c") * F.col("c")).alias("f2")))
    both = one.crossJoin(exact)  # 1-row x 1-row
    mean = F.expr(
        "(" + " + ".join(f"z{i} * z{i}" for i in range(k))
        + f") div {k}")
    rows = ", ".join(
        f"CAST({i} AS BIGINT), CAST(z{i} AS BIGINT), "
        f"CAST(z{i} * z{i} AS BIGINT)" for i in range(k))
    return (both.select("*", mean.alias("mf"))
            .selectExpr(
                f"stack({k}, {rows}) AS (est_id, z_sum, est_f2)",
                "CAST(f2 AS BIGINT) AS exact_f2",
                "CAST(mf AS BIGINT) AS mean_f2")
            .selectExpr(
                "est_id", "z_sum", "est_f2", "exact_f2", "mean_f2",
                "CAST((abs(est_f2 - exact_f2) * 1000000) div exact_f2"
                " AS BIGINT) AS err_ppm"))


def bottomk_quantiles(df: DataFrame, group_col: str, value_col,
                      key_col: str, k: int = 128,
                      quantiles: tuple[int, ...] = (10, 25, 50, 75, 90),
                      salt: str = "bkq:") -> DataFrame:
    """Per-group quantile estimates from a deterministic bottom-k
    (KMV-style) sample, evaluated against the exact histogram-walk
    quantiles — the mergeable bounded-size answer to "what is p50/p90
    per stream" when the stream is too big to sort: keep only the k
    rows with the smallest md5 priority per group (a uniform sample
    without replacement, reproducible across engines and runs), read
    order statistics off the sample.

    Merge law (proven by test): bottomk(A ∪ B) == bottomk(bottomk(A)
    ∪ bottomk(B)) — priorities are content-derived, so per-partition
    / per-day sketches fold without touching raw data, the same
    algebra as cm_merge/hll_merge/bloom_merge.  This is the quantile
    member of the sketch family: HLL counts distinct, CM counts
    frequencies, AMS sizes joins, bottom-k locates the distribution.

    Exactness discipline: the reference quantile walks the per-group
    (value, count) HISTOGRAM with a cumulative window over DISTINCT
    values (robust_outliers' shape — never a corpus sort); the sample
    side ranks at most k rows per group, by (pri, key, v): pri hashes
    key, so v breaks ties between duplicate keys and both engines keep
    the same sample rows.  Quantile definition (both sides, both
    engines): smallest v whose cumulative count reaches
    ceil(q * n / 100) — integer ceil via (q*n + 99) div 100.

    Returns one row per (group, q_pct): n, ks (actual sample size),
    est, exact, abs_err."""
    from pyspark.sql import Window

    from ..functions.hashing import md5_int
    rows = df.select(
        F.col(group_col).alias("g"),
        value_col.cast("bigint").alias("v") if hasattr(value_col, "cast")
        else F.col(value_col).cast("bigint").alias("v"),
        F.col(key_col).cast("string").alias("key"))
    rows = rows.withColumn("pri", md5_int(F.col("key"), salt=salt))
    samp = (rows.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("g").orderBy("pri", "key", "v")))
        .where(F.col("rn") <= k).drop("rn").persist())
    ks = samp.groupBy("g").agg(F.count("*").alias("ks"))
    qlit = F.explode(F.array(*[F.lit(q) for q in quantiles]))
    sr = samp.withColumn(
        "vr", F.row_number().over(
            Window.partitionBy("g").orderBy("v", "key")))
    est = (sr.join(F.broadcast(ks), "g")
           .select("g", "v", "vr", "ks", qlit.alias("q_pct"))
           .where(F.col("vr") * 100 >= F.col("q_pct") * F.col("ks"))
           .groupBy("g", "q_pct").agg(F.min("v").alias("est")))
    hist = (rows.groupBy("g", "v").agg(F.count("*").alias("c")))
    tot = hist.groupBy("g").agg(F.sum("c").alias("n"))
    wv = (Window.partitionBy("g").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0))
    exact = (hist.withColumn("cum", F.sum("c").over(wv))
             .join(F.broadcast(tot), "g")
             .select("g", "v", "cum", "n", qlit.alias("q_pct"))
             .where(F.col("cum") * 100 >= F.col("q_pct") * F.col("n"))
             .groupBy("g", "q_pct")
             .agg(F.min("v").alias("exact"), F.max("n").alias("n")))
    out = (est.join(exact, ["g", "q_pct"])
           .join(F.broadcast(ks), "g")
           .select(F.col("g").alias(group_col),
                   F.col("q_pct").cast("int").alias("q_pct"),
                   F.col("n").cast("bigint").alias("n"),
                   F.col("ks").cast("bigint").alias("ks"),
                   F.col("est").cast("bigint").alias("est"),
                   F.col("exact").cast("bigint").alias("exact"),
                   F.abs(F.col("est") - F.col("exact"))
                   .cast("bigint").alias("abs_err")))
    out.unpersist_input = samp.unpersist
    return out


def kmv_overlap_estimates(df: DataFrame, group_col: str, key_col: str,
                          k: int = 256, salt: str = "kmv:",
                          m_bits: int = 48) -> DataFrame:
    """KMV (k-minimum-values, Bar-Yossef et al. 2002) set-overlap
    estimates between every pair of groups: per group keep only the
    k smallest distinct md5 values of its keys; the k-th smallest
    value theta estimates the distinct count as (k-1) * 2^m div
    theta, and pairwise union/intersection sizes follow from the
    MERGED sketches + inclusion-exclusion — |A ∩ B| without ever
    joining A's keys to B's.  This is the SCALE path of the exact
    overlap matrix (q106 joins the full key sets; at 100 TB that
    join is corpus-sized, while sketches are k rows per group,
    broadcastable, and mergeable like the rest of the sketch
    family).  Estimates vs EXACT intersections ship in one table so
    the error is visible, the q211/q204 convention.

    Determinism: md5 values are content-derived integers, every
    quantile/min is over distinct values with no ties (distinct
    hashes), so the whole table is hash-exact cross-engine.  Groups
    with fewer than k distinct keys carry their exact count (the
    sketch IS the set; est falls back to sketch size).  Intersection
    estimates clip at 0 (inclusion-exclusion can go negative at
    sketch resolution).

    Scale shape: one distinct (group, hash) aggregate over the
    corpus; per-group top-k via a group-partitioned row_number
    window (k rows survive); the pair stage touches only sketch
    rows (n_groups * k).  The EXACT side joins distinct key sets
    pairwise — corpus-sized, present here as the audit twin, and
    the first thing a production caller drops.

    Returns one row per unordered pair: (ga, gb, est_a, est_b,
    est_union, est_inter, exact_inter, err_ppm)."""
    from pyspark.sql import Window

    from ..functions.hashing import md5_int
    # 48-bit hashes, not 60: the estimator multiplies (k-1) * 2^m,
    # which must stay inside int64 ((k-1) * 2^48 ~ 7e16); collision
    # odds at 48 bits are ~n^2 / 2^49 — negligible below ~1e6 keys
    assert (k - 1) << m_bits < (1 << 62), "k * 2^m_bits overflows"
    m = 1 << m_bits
    keys = (df.select(F.col(group_col).alias("g"),
                      F.col(key_col).alias("key"))
            .distinct()
            .select("g", "key",
                    md5_int(F.col("key"), bits_hex=m_bits // 4,
                            salt=salt).alias("h"))
            .persist())
    hs = keys.select("g", "h").distinct()
    sk = (hs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("h")))
        .where(F.col("rn") <= k))
    est = (sk.groupBy("g")
           .agg(F.count("*").alias("ks"), F.max("h").alias("theta"))
           .select("g", F.when(F.col("ks") < k, F.col("ks"))
                   .otherwise(F.expr(f"({k} - 1) * {m} div theta"))
                   .cast("bigint").alias("est_n")))
    gs = sk.select("g").distinct()
    gp = (gs.alias("x").join(gs.alias("y"), F.col("x.g") < F.col("y.g"))
          .select(F.col("x.g").alias("ga"), F.col("y.g").alias("gb")))
    # merged sketch per pair: each side's k rows tagged with the pair
    # key (pair-dim x k rows total), distinct-merged, re-topped at k
    pairs = (gp.join(sk.select(F.col("g").alias("ga"), "h"), "ga")
             .select("ga", "gb", "h")
             .unionByName(
                 gp.join(sk.select(F.col("g").alias("gb"), "h"), "gb")
                 .select("ga", "gb", "h")))
    uni = (pairs.distinct()
           .withColumn("rn", F.row_number().over(
               Window.partitionBy("ga", "gb").orderBy("h")))
           .where(F.col("rn") <= k)
           .groupBy("ga", "gb")
           .agg(F.count("*").alias("ks"), F.max("h").alias("theta"))
           .select("ga", "gb",
                   F.when(F.col("ks") < k, F.col("ks"))
                   .otherwise(F.expr(f"({k} - 1) * {m} div theta"))
                   .cast("bigint").alias("est_union")))
    exact = (keys.alias("x").join(
        keys.alias("y"),
        (F.col("x.key") == F.col("y.key"))
        & (F.col("x.g") < F.col("y.g")))
        .groupBy(F.col("x.g").alias("ga"), F.col("y.g").alias("gb"))
        .agg(F.count("*").cast("bigint").alias("exact_inter")))
    ea = est.select(F.col("g").alias("ga"), F.col("est_n").alias("est_a"))
    eb = est.select(F.col("g").alias("gb"), F.col("est_n").alias("est_b"))
    out = (uni.join(F.broadcast(ea), "ga").join(F.broadcast(eb), "gb")
           .join(exact, ["ga", "gb"], "left")
           .select("ga", "gb", "est_a", "est_b", "est_union",
                   F.greatest(F.lit(0),
                              F.col("est_a") + F.col("est_b")
                              - F.col("est_union"))
                   .cast("bigint").alias("est_inter"),
                   F.coalesce("exact_inter", F.lit(0)).cast("bigint")
                   .alias("exact_inter"))
           .withColumn(
               "err_ppm",
               F.expr("(abs(est_inter - exact_inter) * 1000000)"
                      " div greatest(exact_inter, 1)")
               .cast("bigint")))
    out.unpersist_input = keys.unpersist
    return out
