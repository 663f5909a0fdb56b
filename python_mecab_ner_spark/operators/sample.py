"""Deterministic corpus sampling and quality gating for the
training-data pipeline:

- hash_stratified_sample: per-stratum rate sampling keyed on a
  portable content hash — reproducible across runs, engines, and
  cluster sizes (no RNG state, no seed plumbing);
- quality_percentile_gate: EXACT top-fraction-per-stratum filter via
  integer rank arithmetic (the oracle-checkable form);
- quality_gate_approx: the 100 TB path — approx_percentile thresholds
  broadcast back, no global sort.

The mixture-weighting step of corpus curation (C4 / The Pile /
RefinedWeb all sample sources at tuned per-source rates) needs exactly
these primitives, and at scale they must be deterministic so re-runs
and backfills see the same sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int


def hash_stratified_sample(df: DataFrame, id_col: str, strata_col: str,
                           rates: dict[str, int], denom: int = 16,
                           salt: str = "samp:") -> DataFrame:
    """Keep a row iff pmod(md5(salt || id), denom) < rates[stratum].

    rates maps stratum value -> integer numerator (kept fraction =
    num/denom); strata absent from `rates` are dropped (rate 0).

    Scale shape: the rate table is config-sized and BROADCAST, the
    sample decision is a per-row hash + compare — zero shuffle, no
    driver-side randomness, and (unlike df.sample) the verdict for a
    given document is stable under repartitioning, retries, and
    engine changes, which is what makes backfills reproducible."""
    spark = df.sparkSession
    rate_rows = [(k, int(v)) for k, v in sorted(rates.items())]
    rdf = spark.createDataFrame(rate_rows, f"{strata_col} string, _rate int")
    h = F.pmod(md5_int(F.col(id_col).cast("string"), salt=salt),
               F.lit(denom))
    return (df.join(F.broadcast(rdf), strata_col, "inner")
            .where(h < F.col("_rate"))
            .drop("_rate"))


def hash_stratified_sample_sql(id_expr: str, strata_expr: str,
                               rates: dict[str, int], denom: int = 16,
                               salt: str = "samp:") -> str:
    """DuckDB WHERE-clause twin of hash_stratified_sample (same hash,
    same per-stratum numerators; strata missing from `rates` fail the
    CASE and are dropped via rate -1)."""
    from ..functions.hashing import md5_int_sql
    h = f"({md5_int_sql(f'CAST({id_expr} AS VARCHAR)', salt=salt)} % {denom})"
    cases = " ".join(f"WHEN '{k}' THEN {int(v)}"
                     for k, v in sorted(rates.items()))
    return f"{h} < (CASE {strata_expr} {cases} ELSE -1 END)"


def importance_weights(docs: DataFrame, text_col: str, id_col: str,
                       target_col: str, n_buckets: int = 1024,
                       salt: str = "dsir:") -> DataFrame:
    """DSIR-style importance scores (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling") in integer
    arithmetic: hashed unigram features, per-bucket target-vs-raw
    log-likelihood ratio, summed per document —

        bucket(w)  = md5(salt || w) % n_buckets
        w(b)       = bitlen((ct(b)+1) * (Nr+B))
                     - bitlen((cr(b)+1) * (Nt+B))     (signed)
        score(doc) = sum_{tokens} w(bucket)

    where ct/Nt count tokens of TARGET-flagged docs (the domain to
    upsample toward), cr/Nr count the whole corpus, and bitlen is the
    floor-log2 the q38/q53 family already uses — each w(b) is the
    add-1-smoothed log2 ratio within +-1, deterministic and
    cross-engine exact (float log-likelihoods never are).  High score
    = doc's vocabulary looks like the target domain.  Returns
    (id, n_toks, score).

    Scale shape: the bucket weight table is FIXED SIZE (n_buckets
    rows) built by two combinable aggregates over one token pass,
    then broadcast back into a second token pass's per-doc sum — no
    corpus-scale shuffle beyond the two per-doc/per-bucket
    aggregates; exactly the hashed-feature trick that lets DSIR run
    where a classifier per doc can't."""
    toks = (docs.select(F.col(id_col),
                        F.col(target_col).alias("_t"),
                        F.explode(F.split(F.lower(F.trim(text_col)),
                                          r"\s+")).alias("word"))
            .where("word <> ''")
            .withColumn("b", F.pmod(md5_int(F.col("word"), salt=salt),
                                    F.lit(n_buckets))))
    counts = (toks.groupBy("b")
              .agg(F.count("*").alias("cr"),
                   F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct")))
    totals = counts.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    weights = (counts.crossJoin(F.broadcast(totals))
               .select("b",
                       (F.length(F.bin((F.col("ct") + 1)
                                       * (F.col("nr") + n_buckets)))
                        - F.length(F.bin((F.col("cr") + 1)
                                         * (F.col("nt") + n_buckets))))
                       .cast("bigint").alias("w")))
    return (toks.join(F.broadcast(weights), "b")
            .groupBy(id_col)
            .agg(F.count("*").cast("bigint").alias("n_toks"),
                 F.sum("w").cast("bigint").alias("score")))


def quality_percentile_gate(df: DataFrame, score_col: str, strata_col: str,
                            id_col: str, keep_num: int,
                            keep_den: int) -> DataFrame:
    """EXACT per-stratum top-fraction filter: keep a row iff its
    0-based rank (score desc, id asc — a total order) satisfies
    rank * keep_den < n_stratum * keep_num, i.e. the top
    keep_num/keep_den fraction, decided in pure 64-bit integer
    arithmetic so both engines agree bit-for-bit (a float
    percent_rank <= 0.2 compare is NOT cross-engine stable).

    Scale note: the window sorts each stratum — fine when strata are
    many and individually bounded (per-source gating), wrong for one
    giant stratum; use quality_gate_approx there."""
    w = Window.partitionBy(strata_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    cw = Window.partitionBy(strata_col)
    return (df.withColumn("_rk", F.row_number().over(w) - 1)
            .withColumn("_n", F.count("*").over(cw))
            .where(F.col("_rk") * keep_den < F.col("_n") * keep_num)
            .drop("_rk", "_n"))


def quality_gate_approx(df: DataFrame, score_col: str, strata_col: str,
                        keep_frac: float, accuracy: int = 10_000) -> DataFrame:
    """The 100 TB variant of quality_percentile_gate: per-stratum
    approx_percentile (one partial-aggregable pass, no sort) computes
    the score threshold; thresholds are a strata-sized dimension and
    get BROADCAST back; the gate is then a per-row compare.  Keeps
    rows with score >= the (1 - keep_frac) quantile.  Approximate at
    the boundary (ties + sketch error), hence pytest-checked against
    the exact gate rather than oracled."""
    thr = (df.groupBy(strata_col)
           .agg(F.percentile_approx(score_col, 1.0 - keep_frac, accuracy)
                .alias("_thr")))
    return (df.join(F.broadcast(thr), strata_col, "inner")
            .where(F.col(score_col) >= F.col("_thr"))
            .drop("_thr"))


def quality_gate_histogram(df: DataFrame, score_col: str,
                           strata_col: str, id_col: str,
                           keep_num: int, keep_den: int,
                           bin_width: int = 64) -> DataFrame:
    """EXACT per-stratum top-fraction filter that never sorts the
    stratum — the missing point between quality_percentile_gate
    (exact, but one sort per stratum: wrong for a handful of giant
    sources at 100 TB) and quality_gate_approx (scales, but boundary-
    approximate):

      1. per-(stratum, bin) integer histogram, bin = score div
         bin_width — ONE combinable aggregate, state is strata x bins
         (dimension-sized);
      2. walk the histogram from the top to find the BOUNDARY bin
         where the cumulative count crosses the stratum quota
         ceil(n * keep_num / keep_den) — a window over the tiny
         histogram, never the corpus;
      3. rows in bins ABOVE the boundary are kept outright (a
         broadcast-joined per-row compare); the exact rank window
         runs ONLY inside the boundary bin, whose population is
         corpus-independent (~n/bins of one stratum).

    Result row set is IDENTICAL to quality_percentile_gate's (same
    quota, same (score desc, id asc) total order — proven by test and
    by the shared SQL oracle): higher-bin rows all outrank boundary-
    bin rows, and the within-bin window completes the quota in the
    same order the global sort would.  Integer scores only (the same
    cross-engine discipline as the rest of the family)."""
    b = F.floor(F.col(score_col) / bin_width).cast("bigint")
    hist = (df.groupBy(F.col(strata_col).alias("_s"), b.alias("_b"))
            .agg(F.count("*").alias("_c")))
    wcum = (Window.partitionBy("_s").orderBy(F.col("_b").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    n = hist.groupBy("_s").agg(F.sum("_c").alias("_n"))
    hist = (hist.withColumn("_cum", F.sum("_c").over(wcum))
            .join(n, "_s")
            .withColumn("_quota",
                        F.floor((F.col("_n") * keep_num + keep_den - 1)
                                / keep_den).cast("bigint")))
    # boundary = LARGEST bin whose top-down cumulative reaches the
    # quota; rows strictly above it (_cum - _c of that bin) are all
    # inside the quota by construction
    # strata-sized dimension, PERSISTED: both output branches (above-
    # boundary and boundary-bin) broadcast-join it, and without the
    # persist each branch would re-run the corpus-sized histogram
    # aggregate (the CacheManager dedups the shared subtree)
    bd = (hist.where(F.col("_cum") >= F.col("_quota"))
          .groupBy("_s")
          .agg(F.max_by(F.struct("_b", "_cum", "_c", "_quota"), "_b")
               .alias("_t"))
          .select(F.col("_s").alias(strata_col),
                  F.col("_t._b").alias("_bb"),
                  (F.col("_t._quota")
                   - (F.col("_t._cum") - F.col("_t._c"))).alias("_take"))
          .persist())
    tagged = (df.withColumn("_rb", b)
              .join(F.broadcast(bd), strata_col))
    above = tagged.where(F.col("_rb") > F.col("_bb"))
    wb = Window.partitionBy(strata_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    boundary = (tagged.where(F.col("_rb") == F.col("_bb"))
                .withColumn("_rk", F.row_number().over(wb))
                .where(F.col("_rk") <= F.col("_take"))
                .drop("_rk"))
    return (above.unionByName(boundary)
            .drop("_rb", "_bb", "_take"))


def weighted_priority_sample(df: DataFrame, id_col: str,
                             weight_col: str, strata_col: str,
                             k: int, salt: str = "wps:") -> DataFrame:
    """Sequential Poisson sampling (Ohlsson 1998): deterministic
    probability-proportional-to-size sample of k rows per stratum.
    Each row gets priority u/w where u is its portable 32-bit content
    hash (a fixed "uniform" draw) and w its weight; the k SMALLEST
    priorities per stratum form the sample — heavier rows
    systematically draw smaller priorities, so inclusion probability
    approaches k*w/sum(w).  The scheme survey statisticians use for
    pps samples precisely BECAUSE it is order- and replay-stable: the
    sample is a pure function of (id, weight), reproducible across
    backfills, repartitions, and cluster sizes.

    Integer arithmetic: priority = h32 * 1e6 div max(w, 1) — 32-bit
    hash times 1e6 stays far inside int64, ties broken by id, exact
    in both engines.  Scale shape: one rank window per stratum
    (strata are a bounded dimension; for one giant stratum compose
    with quality_gate_histogram's boundary-bin trick)."""
    h32 = md5_int(F.col(id_col).cast("string"), bits_hex=8, salt=salt)
    prio = F.floor(h32 * F.lit(1_000_000)
                   / F.greatest(F.col(weight_col), F.lit(1))) \
        .cast("bigint")
    w = Window.partitionBy(strata_col).orderBy(
        F.col("priority").asc(), F.col(id_col).asc())
    return (df.withColumn("priority", prio)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .drop("rk"))


def isqrt_col(n) -> F.Column:
    """Exact integer sqrt of a non-negative bigint column: floor(sqrt)
    via double, then a one-step correction in BOTH directions (a
    double sqrt is within 1 ulp, so the candidate is off by at most
    1 for any int64 count).  Bit-identical in Spark and DuckDB —
    the portable building block for tau=1/2 temperature scaling.
    The k+1 correction is guarded by k < 3037000499 (= isqrt(2^63)),
    so (k+1)^2 can never overflow int64 — exact for ANY int64 input."""
    n = n.cast("bigint")
    k = F.floor(F.sqrt(n.cast("double"))).cast("bigint")
    k = F.when((k < F.lit(3037000499)) & ((k + 1) * (k + 1) <= n),
               k + 1).otherwise(k)
    return F.when(k * k > n, k - 1).otherwise(k)


def isqrt_sql(expr: str) -> str:
    """DuckDB twin of isqrt_col (same correction ladder + the same
    k < isqrt(2^63) overflow guard on the +1 branch)."""
    k = f"CAST(floor(sqrt(CAST(({expr}) AS DOUBLE))) AS BIGINT)"
    k1 = (f"(CASE WHEN {k} < 3037000499 AND ({k}+1)*({k}+1) <= ({expr}) "
          f"THEN {k}+1 ELSE {k} END)")
    return f"(CASE WHEN {k1}*{k1} > ({expr}) THEN {k1}-1 ELSE {k1} END)"


def temperature_mix_weights(df: DataFrame,
                            source_col: str = "source") -> DataFrame:
    """Temperature-smoothed source mixture weights (the tau = 1/2
    multinomial smoothing of multilingual/multi-source LM training —
    Conneau & Lample 2019 §3.1; The Pile and Gopher tune the same
    knob): sampling weight proportional to n_s^(1/2), which uplifts
    tail sources and caps head dominance without the hard cutoff of
    q78's cap-based mixing.

    tau = 1/2 is the one temperature with an EXACT integer form
    (isqrt), so the whole sheet is hash-exact cross-engine:
    nat_ppm = 1e6 * n_docs div total (the natural share) and
    w_ppm = 1e6 * isqrt(n_docs) div sum(isqrt) (the smoothed share);
    boost_ppm = 1e6 * w_ppm div max(nat_ppm, 1) reads as the up/down-
    sampling factor the data loader applies per source.

    Scale shape: one map-side-combinable count per source, a
    single-row total broadcast back — the output is a
    source-cardinality dimension."""
    counts = (df.groupBy(F.col(source_col).alias("source"))
              .agg(F.count("*").cast("bigint").alias("n_docs")))
    counts = counts.withColumn("sq", isqrt_col(F.col("n_docs")))
    totals = counts.agg(F.sum("n_docs").alias("total"),
                        F.sum("sq").alias("sq_total"))
    return (counts.crossJoin(F.broadcast(totals))
            .select("source", "n_docs",
                    F.expr("(n_docs * 1000000) div total")
                    .cast("bigint").alias("nat_ppm"),
                    F.expr("(sq * 1000000) div sq_total")
                    .cast("bigint").alias("w_ppm"))
            .withColumn("boost_ppm",
                        F.expr("(w_ppm * 1000000) "
                               "div greatest(nat_ppm, 1)")
                        .cast("bigint")))


def epoch_allocation(sources: DataFrame, budget: int,
                     max_epochs: int = 4, key: str = "source",
                     tokens: str = "tokens",
                     weight: str | None = None) -> DataFrame:
    """Token-budget allocation across sources with a repeat cap — the
    data-constrained mixing table (Muennighoff et al. 2023: repeating
    a source beyond ~4 epochs stops helping, so the budget that
    proportional mixing would over-assign to small sources must
    re-flow to sources with headroom):

        cap(s)   = tokens(s) * max_epochs
        ideal(s) = (budget * w(s)) div sum(w)   (w = ``weight`` col,
                   default 1 per source — the uniform mix that
                   over-asks small sources, which is what makes the
                   cap bind; NOTE a token-proportional weight binds
                   uniformly or never, since ideal/tokens is then
                   constant across sources)
        take(s)  = min(cap(s), ideal(s))
        leftover re-flows proportionally to HEADROOM (cap - take),
        its own remainder placed by the largest-remainder rank
        (ties -> smaller key) — the crawl_budget Hamilton step.

    Exact invariant on any engine: sum(take) == min(budget, sum cap);
    when sum(cap) < budget the output flags the shortfall instead of
    silently over-repeating (budget_unmet > 0 on every row).

    Single-pass headroom redistribution is deliberate (documented
    divergence from iterative waterfilling): one extra flow step
    covers the common one-sided imbalance, stays a closed-form
    integer spec a SQL oracle can mirror, and never exceeds any cap.

    Scale shape: two 1-row totals broadcast back + one rank window
    over the SOURCE DIMENSION (a vocabulary of sources, never the
    corpus).  Returns (source, tokens, cap, take_tokens,
    epochs_milli, budget_unmet)."""
    from pyspark.sql import Window
    wcol = (F.col(weight).cast("bigint") if weight is not None
            else F.lit(1).cast("bigint"))
    s = sources.select(F.col(key).alias("k"),
                       F.col(tokens).cast("bigint").alias("t"),
                       wcol.alias("w"))
    s = s.withColumn("cap", F.col("t") * F.lit(max_epochs))
    tot = s.agg(F.sum("w").alias("tw"), F.sum("cap").alias("tc"))
    base = (s.crossJoin(F.broadcast(tot))
            .select("k", "t", "cap", "tw", "tc",
                    F.least(F.col("cap"),
                            F.expr(f"({budget} * w) div tw"))
                    .alias("take0")))
    l0 = base.agg(
        (F.least(F.lit(budget), F.max("tc")) - F.sum("take0"))
        .alias("left0"))
    head = (base.crossJoin(F.broadcast(l0))
            .withColumn("hr", F.col("cap") - F.col("take0")))
    htot = head.agg(F.sum("hr").alias("ht"))
    flowed = (head.crossJoin(F.broadcast(htot))
              .withColumn(
                  "add1",
                  F.when(F.col("ht") > 0,
                         F.expr("least(hr, (left0 * hr) div ht)"))
                  .otherwise(F.lit(0)))
              .withColumn(
                  "rem",
                  F.when((F.col("ht") > 0) & (F.col("hr") > F.col("add1")),
                         F.expr("(left0 * hr) % ht"))
                  .otherwise(F.lit(-1))))
    l1 = flowed.agg((F.max("left0") - F.sum("add1")).alias("left1"))
    w = Window.orderBy(F.col("rem").desc(), F.col("k").asc())
    out = (flowed.withColumn("rk", F.row_number().over(w))
           .crossJoin(F.broadcast(l1))
           .withColumn("take",
                       F.col("take0") + F.col("add1")
                       + F.when((F.col("rk") <= F.col("left1"))
                                & (F.col("rem") >= 0), 1)
                       .otherwise(0)))
    return out.select(
        F.col("k").alias(key), F.col("t").cast("bigint").alias(tokens),
        F.col("cap").cast("bigint").alias("cap"),
        F.col("take").cast("bigint").alias("take_tokens"),
        F.expr("(take * 1000) div t").cast("bigint")
        .alias("epochs_milli"),
        F.greatest(F.lit(0), F.lit(budget) - F.col("tc"))
        .cast("bigint").alias("budget_unmet"))


# floor(1e6 * CDF_Poisson(1)(k)) for k = 0..5 — literal constants (no
# float evaluated at runtime); weight 6 absorbs the 5.9e-7 tail
POISSON1_CDF_PPM = (367879, 735758, 919698, 981011, 996340, 999405)


def poisson_bootstrap_ci(df: DataFrame, value_col: str, id_col: str,
                         n_reps: int = 200, salt: str = "boot:",
                         lo_mille: int = 25,
                         hi_mille: int = 975) -> DataFrame:
    """Poisson-bootstrap confidence interval for a corpus mean — THE
    web-scale bootstrap (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012): instead of resampling n rows
    with replacement (which needs global coordination), each row
    enters replicate r with an independent Poisson(1) weight, giving
    the same asymptotic distribution with a purely row-local rule.
    Here the weight is DETERMINISTIC: u = md5(salt || id || '#' || r)
    mod 1e6 inverted through the Poisson(1) CDF ppm ladder
    (POISSON1_CDF_PPM; w = #{k : u >= cdf_k}, capped at 6) — fully
    reproducible, hash-exact in the DuckDB twin, no RNG state.

    Per replicate the weighted mean is the exact integer ratio
    mean_ppm = 1e6 * sum(w*v) div sum(w); the CI is the percentile
    rule over the B replicate means with the rank contract
    r_lo = max(1, B*lo_mille div 1000), r_hi = least(B,
    (B*hi_mille + 999) div 1000) (B=200 defaults -> ranks 5 and 195,
    a 95% interval), ties broken by replicate id.

    Scale shape: the corpus is scanned ONCE, exploded x B into a
    narrow (rep, w, w*v) stream feeding one map-side-combinable
    aggregate; everything after is a B-row dimension (the rank window
    runs over B rows only).  values must be integers (quality scores,
    token counts); sum(w*v)*1e6 must stay in int64 — at B=200 and
    v <= 100 that's ~4.6e13 rows before the decimal(38,0) lift.

    Returns ONE row: (n_docs, n_reps, mean_ppm, ci_lo_ppm, ci_hi_ppm)
    — mean_ppm is the plain corpus mean in ppm units of v."""
    v = F.col(value_col).cast("bigint")
    base = df.select(F.col(id_col).cast("string").alias("_id"),
                     v.alias("_v"))
    rep = base.select(
        "_id", "_v",
        F.explode(F.sequence(F.lit(0), F.lit(n_reps - 1))).alias("_r"))
    u = F.pmod(
        md5_int(F.concat_ws("#", F.col("_id"), F.col("_r").cast("string")),
                salt=salt),
        F.lit(1_000_000))
    w = sum(((u >= F.lit(t)).cast("int") for t in POISSON1_CDF_PPM),
            F.lit(0)).cast("bigint")
    means = (rep.select("_r", w.alias("_w"), (w * F.col("_v")).alias("_wv"))
             .groupBy("_r")
             .agg(F.sum("_w").cast("bigint").alias("_den"),
                  F.sum("_wv").cast("bigint").alias("_num"))
             .withColumn("_m",
                         F.expr("(_num * 1000000) div greatest(_den, 1)")
                         .cast("bigint")))
    rk = Window.orderBy(F.col("_m").asc(), F.col("_r").asc())
    r_lo = max(1, (n_reps * lo_mille) // 1000)
    r_hi = min(n_reps, (n_reps * hi_mille + 999) // 1000)
    ci = (means.withColumn("_rk", F.row_number().over(rk))
          .agg(F.min(F.when(F.col("_rk") == r_lo, F.col("_m")))
               .cast("bigint").alias("ci_lo_ppm"),
               F.min(F.when(F.col("_rk") == r_hi, F.col("_m")))
               .cast("bigint").alias("ci_hi_ppm")))
    point = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr("(sum(_v) * 1000000) div greatest(count(*), 1)")
        .cast("bigint").alias("mean_ppm"))
    return (point.crossJoin(F.broadcast(ci))
            .select("n_docs", F.lit(n_reps).cast("bigint").alias("n_reps"),
                    "mean_ppm", "ci_lo_ppm", "ci_hi_ppm"))


def wilson_lower_bound(df: DataFrame, group_col: str,
                       success_col: str) -> DataFrame:
    """Per-group Wilson-score LOWER bound of a pass rate at z = 2
    (~95.45%), exact integers end-to-end — the uncertainty-aware
    ranking rule for comparing keep-rates across groups of wildly
    different sizes (a 2/2 stratum must NOT outrank a 9500/10000
    one; the raw rate says it does, the Wilson bound says otherwise).

    z = 2 is the one z with an exact integer form: with k successes
    of n, multiplying the classic bound through by n,

        LB = ((k+2)*n - 2*sqrt(n*(k*(n-k) + n))) / (n*(n+4))

    and wilson_lb_ppm := (1e6*(k+2)*n - 2e6*isqrt(n*(k*(n-k)+n)))
    div (n*(n+4)) — the isqrt ladder (isqrt_col/isqrt_sql) makes the
    metric a deterministic integer contract on both engines; the
    floor inside the subtraction biases the bound UP by strictly less
    than 2e6/(n*(n+4)) ppm, i.e. sub-ppm for n >= 1400.  Numerator
    and isqrt argument stay in int64 for per-group n <= ~2e6 — at
    100 TB group sizes, compute on a per-group hash sample or lift to
    decimal(38,0) (the gate_agreement bound class).

    Returns (group, n_docs, n_pos, rate_ppm, wilson_lb_ppm) — one
    combinable aggregate, group-cardinality output, no window."""
    y = F.col(success_col).cast("bigint")
    g = (df.groupBy(F.col(group_col).alias("grp"))
         .agg(F.count("*").cast("bigint").alias("n_docs"),
              F.sum(y).cast("bigint").alias("n_pos")))
    n, k = F.col("n_docs"), F.col("n_pos")
    root = isqrt_col(n * (k * (n - k) + n))
    # integer `div`, never float `/`+floor (the cross-engine ulp trap);
    # the numerator is non-negative: the floored isqrt only ever
    # UNDERSHOOTS the true sqrt, and the analytic bound is >= 0
    num = (F.lit(1_000_000) * (k + 2) * n
           - F.lit(2_000_000) * root).cast("bigint")
    return (g.withColumn("_num", num)
            .withColumn("_den", (n * (n + 4)).cast("bigint"))
            .select(
                F.col("grp").alias(group_col), "n_docs", "n_pos",
                F.expr("(n_pos * 1000000) div n_docs").cast("bigint")
                .alias("rate_ppm"),
                F.expr("_num div _den").cast("bigint")
                .alias("wilson_lb_ppm")))


def greedy_max_coverage(pairs: DataFrame, item_col: str, elem_col: str,
                        k: int = 5, id_bits: int = 40) -> DataFrame:
    """Greedy maximum-coverage selection over an (item, element)
    incidence table: pick k items whose element sets together cover
    the most DISTINCT elements — the submodular data-selection step
    of corpus curation (choose the k documents that maximize
    vocabulary / entity / domain coverage for an annotation or eval
    budget; greedy is the classic (1 - 1/e)-approximation and for
    data selection is the de-facto exact protocol).

    Per round, over the LIVE incidence table (pairs whose element is
    not yet covered): marginal gain per item is one combinable
    count, the winner is the house packed-integer argmax
    (max gain, min item — no window, no tie ambiguity), and the
    winner's elements are anti-joined out.  Removing the covered
    elements removes every pair of the winner itself, so selected
    items disappear from the live table for free — no separate
    selected-set bookkeeping.  The live table is localCheckpoint'ed
    per round (iterative house rule), so plan depth stays O(1) per
    round; per-round cost is one aggregate + one anti-join, k is a
    small constant, and only k (round, item, gain) scalars ever
    reach the driver.

    Stops early when the live table runs dry (every element
    covered).  Requires 0 <= item < 2^id_bits and per-item degree
    < 2^(62 - id_bits) (guaranteed for doc ids x token vocabularies;
    lift id_bits for wider id spaces).

    Returns (round, item, gain): selection order 1..k with each
    item's marginal element gain — the coverage curve IS the
    diminishing-returns certificate."""
    cap = 1 << id_bits
    live = (pairs.select(F.col(item_col).alias("item"),
                         F.col(elem_col).alias("elem"))
            .distinct().localCheckpoint(eager=True))
    out = []
    for rnd in range(1, k + 1):
        packed = (F.col("cnt") * F.lit(cap)
                  + (F.lit(cap - 1) - F.col("item")))
        best = (live.groupBy("item").agg(F.count("*").alias("cnt"))
                .agg(F.max(packed).alias("_mx"))
                .where(F.col("_mx").isNotNull())
                .select(F.shiftright(F.col("_mx"), id_bits)
                        .cast("bigint").alias("gain"),
                        (F.lit(cap - 1) - F.pmod(F.col("_mx"),
                                                 F.lit(cap)))
                        .cast("bigint").alias("item"))
                .collect())
        if not best:
            break
        gain, item = best[0]["gain"], best[0]["item"]
        out.append((rnd, int(item), int(gain)))
        if rnd == k:
            break   # the kth anti-join would be a dead full-pass job
        won = live.where(F.col("item") == item).select("elem")
        live = (live.join(won, "elem", "left_anti")
                .localCheckpoint(eager=True))
    spark = pairs.sparkSession
    return spark.createDataFrame(
        out, "round int, item bigint, gain bigint")


def pareto_frontier(df: DataFrame, id_col: str, x_col: str, y_col: str,
                    n_buckets: int = 64) -> DataFrame:
    """Exact 2-D Pareto frontier (skyline), both dimensions
    maximized: the rows no other row weakly dominates (>= in both,
    > in at least one) — the quality-vs-size selection curve of
    corpus curation (q95 gates on ONE score; this surfaces the
    undominated tradeoff set when two objectives compete, e.g.
    length vs lexical diversity).  Ties on both coordinates are
    UNDOMINATED pairs: every co-located point survives.

    Two-phase, no corpus-wide sort (the q171/q95 discipline):
    phase 1 prunes within md5-hash buckets — per (bucket, x) keep
    only max-y rows, then a per-bucket running-max window over x
    descending drops everything dominated inside the bucket; the
    union of bucket frontiers is a few frontier-sized slivers
    (O(log n) expected for independent dims).  Phase 2 reruns the
    identical prune on that sliver in one partition — dimension-
    sized, like q95's boundary bin.  Correctness does not depend on
    the bucketing: a globally undominated row survives every
    bucket-local prune, and a dominated row's dominator chain ends
    at a global frontier point that reaches phase 2.

    Returns the frontier rows (id_col, x_col, y_col)."""
    base = df.select(F.col(id_col), F.col(x_col), F.col(y_col))

    def _prune(t: DataFrame, bucket) -> DataFrame:
        t = t.select("*", bucket.alias("_bk"))
        gmax = F.max(y_col).over(
            Window.partitionBy("_bk", x_col))
        t = (t.select("*", gmax.alias("_gy"))
             .where(F.col(y_col) == F.col("_gy")))
        xs = t.select("_bk", x_col, F.col("_gy")).distinct()
        prev = F.max("_gy").over(
            Window.partitionBy("_bk").orderBy(F.col(x_col).desc())
            .rowsBetween(Window.unboundedPreceding, -1))
        keep = (xs.select("_bk", x_col, prev.alias("_py"), "_gy")
                .where(F.col("_py").isNull()
                       | (F.col("_py") < F.col("_gy")))
                .select("_bk", x_col))
        return t.join(keep, ["_bk", x_col]).select(
            id_col, x_col, y_col)

    local = _prune(base, F.pmod(
        md5_int(F.col(id_col).cast("string"), salt="pf:"),
        F.lit(n_buckets)))
    return _prune(local, F.lit(0))


def neyman_allocation(df: DataFrame, strata_col: str, value_col: str,
                      budget: int = 1000) -> DataFrame:
    """Neyman-optimal stratified sample allocation: given a labeling
    / eval budget, stratum h gets n_h ∝ N_h * sigma_h — big AND
    internally-varied strata deserve more of the budget than big
    uniform ones (proportional allocation over-samples homogeneous
    strata; Neyman is the variance-minimizing split for estimating
    the population mean).  The budget-planning complement of q55
    (proportional), q143 (temperature) and q165 (epoch allocation).

    Exact integer end-to-end: (N_h * sigma_h)^2 = N_h^2 * sigma_h^2
    = N_h * sum(x^2) - sum(x)^2, so ONE isqrt of that integer gives
    the exact floor of the Neyman weight N_h * sigma_h (the q143
    isqrt ladder); seats then split largest-remainder (Hamilton
    apportionment): base = budget*W_h div sum(W), the leftover
    seats go to the largest (budget*W_h) mod sum(W), ties by
    stratum asc — sum(alloc) == budget ALWAYS, proven by test.
    int64 bound: N_h * sum(x^2) < 2^63 — pre-scale value units
    (e.g. kilo-chars) for strata beyond ~1e5 rows of ~1e4-sized
    values.

    Scale shape: one combinable stratum aggregate, then
    dimension-sized windows only.  Returns (stratum, n_docs,
    w_scaled, alloc)."""
    g = (df.groupBy(F.col(strata_col).alias("stratum"))
         .agg(F.count("*").cast("bigint").alias("n_docs"),
              F.sum(F.col(value_col).cast("bigint")).alias("s1"),
              F.sum(F.col(value_col).cast("bigint")
                    * F.col(value_col).cast("bigint")).alias("s2")))
    g = g.withColumn(
        "w", isqrt_col(F.col("n_docs") * F.col("s2")
                       - F.col("s1") * F.col("s1")))
    tot = g.agg(F.sum("w").alias("tw"))
    a = (g.crossJoin(F.broadcast(tot))
         .withColumn("base", F.expr(f"({budget} * w) div tw"))
         .withColumn("rem", F.expr(f"({budget} * w) % tw")))
    seats = a.agg((F.lit(budget) - F.sum("base")).alias("left"))
    w_rk = Window.orderBy(F.col("rem").desc(), F.col("stratum").asc())
    return (a.crossJoin(F.broadcast(seats))
            .withColumn("rk", F.row_number().over(w_rk))
            .select("stratum",
                    "n_docs",
                    F.col("w").cast("bigint").alias("w_scaled"),
                    (F.col("base")
                     + (F.col("rk") <= F.col("left")).cast("int"))
                    .cast("bigint").alias("alloc")))
