"""Declarative span/window operators — the SQL re-expression of the
reference's hand-rolled index loops (SURVEY.md §2.6):

- gaps_and_islands: maximal runs (reference gen_integrated_entity,
  mecab_ner.py:50-75) via the idx - row_number() grouping trick;
- rank1_per_group: homonym disambiguation / longest-first overlap
  pick (reference delete_duplicate*, mecab_category_storage.py:619-656)
  as a row_number() = 1 window;
- nearest_join: entity-intent nearest pairing by index distance
  (reference get_matched, mecab_category_storage.py:598-616) as a
  rank-over-abs-distance join.

All pure DataFrame/SQL: Catalyst plans the shuffles; at scale each
window partitions by a high-cardinality key (url / user) so no single
partition grows with corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gaps_and_islands(df: DataFrame, part_col: str, idx_col: str,
                     out_prefix: str = "run") -> DataFrame:
    """Rows of covered indexes -> one row per maximal consecutive run:
    (part_col, {out_prefix}_start, {out_prefix}_end inclusive, {out_prefix}_len)."""
    w = Window.partitionBy(part_col).orderBy(idx_col)
    grp = (F.col(idx_col) - F.row_number().over(w)).alias("_grp")
    return (df.select(part_col, F.col(idx_col).cast("long").alias(idx_col))
            .distinct()
            .select(part_col, idx_col, grp)
            .groupBy(part_col, "_grp")
            .agg(F.min(idx_col).alias(f"{out_prefix}_start"),
                 F.max(idx_col).alias(f"{out_prefix}_end"),
                 F.count("*").alias(f"{out_prefix}_len"))
            .drop("_grp"))


def rank1_per_group(df: DataFrame, group_cols: list, order_cols: list) -> DataFrame:
    """Keep exactly one row per group, best-first by order_cols
    (rank-1-per-group; ties broken by the ordering itself, so pass a
    total order for determinism)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def nearest_join(left: DataFrame, right: DataFrame, on: list,
                 left_pos: str, right_pos: str, left_id: str,
                 tiebreakers: list | None = None,
                 suffix: str = "_r") -> DataFrame:
    """For each left row (identified by left_id), attach the single
    right row (same `on` keys) minimizing |left_pos - right_pos|; ties
    broken by right_pos then the caller's tiebreakers (pass a total
    order for determinism).

    Equi-join on the keys then rank-1 window; Catalyst plans a shuffled
    hash join on `on` — at scale the key set (url/user) is high
    cardinality, so this stays balanced.
    """
    r = right.select(*on, F.col(right_pos).alias(right_pos + suffix),
                     *[F.col(c).alias(c + suffix) for c in right.columns
                       if c not in on + [right_pos]])
    joined = left.join(r, on=on, how="inner")
    dist = F.abs(F.col(left_pos) - F.col(right_pos + suffix))
    order = [dist.asc(), F.col(right_pos + suffix).asc()]
    order += [F.col(c + suffix).asc() for c in (tiebreakers or [])]
    w = Window.partitionBy(left_id).orderBy(*order)
    return (joined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def sessionize(df: DataFrame, part_col: str, pos_col: str,
               gap: int, order_cols: list | None = None) -> DataFrame:
    """Timeout-based sessionization: within each part_col, a new
    session starts when pos_col jumps by more than `gap` from the
    previous row.  Returns (part_col, session_id, session_start,
    session_end, n_events).

    The generalization of gaps_and_islands from gap==1 to arbitrary
    timeouts; one window + one aggregate, both partitioned by the
    high-cardinality entity key, so state never concentrates."""
    order = [F.col(pos_col).asc()] + [
        F.col(c).asc() if isinstance(c, str) else c
        for c in (order_cols or [])]
    w = Window.partitionBy(part_col).orderBy(*order)
    flagged = df.withColumn(
        "_new", F.when(
            (F.col(pos_col) - F.lag(pos_col).over(w) > gap)
            | F.lag(pos_col).over(w).isNull(), 1).otherwise(0))
    with_sid = flagged.withColumn(
        "session_id", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
    return (with_sid.groupBy(part_col, "session_id")
            .agg(F.min(pos_col).alias("session_start"),
                 F.max(pos_col).alias("session_end"),
                 F.count("*").alias("n_events")))


def burst_days(events: DataFrame, ts_col: str, key_col: str,
               factor_num: int = 6, factor_den: int = 5) -> DataFrame:
    """Daily burst detection per key — the temporal signal a KG/news
    pipeline runs over its edge or mention stream ("which entities
    spiked today" drives recrawl priority and trending-entity
    surfacing): a (key, day) is a burst when its count exceeds
    factor_num/factor_den times the key's mean daily count, decided
    in pure integer arithmetic:

        cnt * n_days * factor_den >= factor_num * total

    (n_days = GLOBAL distinct days in the stream, so silent days
    count toward the baseline instead of inflating the mean).
    Returns burst rows only: (key, day 'yyyy-MM-dd', cnt, total,
    n_days), all integer/string — cross-engine exact, unlike a float
    z-score.

    Scale shape: one map-side-combinable (key, day) count, one
    per-key rollup of that (both shuffles keyed by the
    high-cardinality key), a single-row global day count, and a
    BROADCAST join of the per-key baseline back onto the daily
    table — the daily table is |keys| x |days|, already far below
    the event stream."""
    daily = (events.select(F.col(key_col).alias("key"),
                           F.date_format(F.col(ts_col), "yyyy-MM-dd")
                           .alias("day"))
             .groupBy("key", "day").agg(F.count("*").alias("cnt")))
    base = daily.groupBy("key").agg(F.sum("cnt").alias("total"))
    ndays = daily.select(F.countDistinct("day").alias("n_days"))
    return (daily.join(F.broadcast(base), "key")
            .crossJoin(F.broadcast(ndays))
            .where(F.col("cnt") * F.col("n_days") * factor_den
                   >= F.lit(factor_num) * F.col("total"))
            .select(F.col("key").alias(key_col), "day",
                    F.col("cnt").cast("bigint").alias("cnt"),
                    F.col("total").cast("bigint").alias("total"),
                    F.col("n_days").cast("bigint").alias("n_days")))


def funnel_steps(events: DataFrame, steps: list, gaps_s: list,
                 user_col: str = "user_id", ts_col: str = "ts",
                 type_col: str = "event_type") -> DataFrame:
    """First-touch funnel over an event stream: stage 1 anchors at
    each user's EARLIEST `steps[0]` event; stage i at the earliest
    `steps[i]` event strictly after the user's stage-(i-1) anchor and
    within `gaps_s[i-1]` seconds of it.  This is the stepwise-greedy
    semantics every funnel-analytics product ships (first touch per
    stage), NOT maximal sequence matching — a later stage-1 event
    that would enable a conversion the earliest one misses does not
    count, and that is documented behavior, bit-stable across
    engines.

    All time arithmetic stays NAIVE (timestamp_ntz comparisons +
    `+ INTERVAL n SECOND`): naive timestamps have no zone, so both
    engines do exact microsecond-integer arithmetic with NO session-
    timezone dependence — unix_micros/epoch ROUTES THROUGH THE
    SESSION TIMEZONE for ntz input on the Spark side (measured: a
    New-York session shifts the epoch by 5h vs DuckDB) and is the
    cross-engine trap here, not the fix.

    Returns one row per stage: (step_idx, step, n_users,
    conv_prev_ppm, conv_first_ppm) — conversion vs the previous stage
    (stage 1: vs all distinct users in the stream) and vs stage 1,
    integer ppm (x*1e6 div y).

    Scale shape: every stage is one filtered join keyed by the
    high-cardinality user column + a map-side-combinable min
    aggregate; stage tables shrink monotonically; the final
    conversion sheet folds |steps| one-row aggregates — no windows,
    no corpus sort, nothing grows with the event count except the
    per-user min shuffles."""
    assert len(gaps_s) == len(steps) - 1
    base = events.select(F.col(user_col).alias("u"),
                         F.col(ts_col).alias("ets"),
                         F.col(type_col).alias("et"))
    stage = (base.where(F.col("et") == steps[0])
             .groupBy("u").agg(F.min("ets").alias("t")))
    reached = stage.select(F.lit(1).alias("step_idx"), "u")
    for i, step in enumerate(steps[1:], start=2):
        gap = int(gaps_s[i - 2])
        stage = (base.where(F.col("et") == step)
                 .join(stage.select("u", F.col("t").alias("pt")), "u")
                 .where((F.col("ets") > F.col("pt"))
                        & (F.col("ets") <= F.col("pt")
                           + F.expr(f"INTERVAL {gap} SECOND")))
                 .groupBy("u").agg(F.min("ets").alias("t")))
        reached = reached.unionByName(
            stage.select(F.lit(i).alias("step_idx"), "u"))
    counts = reached.groupBy("step_idx").agg(F.count("*").alias("n_users"))
    all_users = base.select(
        F.lit(0).alias("step_idx"),
        F.countDistinct("u").alias("n_users"))
    counts = counts.unionByName(all_users)
    prev = counts.select(F.col("step_idx").alias("pi"),
                         F.col("n_users").alias("prev_n"))
    first = counts.where(F.col("step_idx") == 1).select(
        F.col("n_users").alias("first_n"))
    names = F.array(*[F.lit(s) for s in steps])
    return (counts.where(F.col("step_idx") >= 1)
            .join(prev, F.col("step_idx") - 1 == F.col("pi"))
            .crossJoin(F.broadcast(first))
            .select(F.col("step_idx").cast("int").alias("step_idx"),
                    F.element_at(names, F.col("step_idx").cast("int"))
                    .alias("step"),
                    F.col("n_users").cast("bigint").alias("n_users"),
                    F.expr("(n_users * 1000000) div greatest(prev_n, 1)")
                    .cast("bigint").alias("conv_prev_ppm"),
                    F.expr("(n_users * 1000000) div greatest(first_n, 1)")
                    .cast("bigint").alias("conv_first_ppm")))


def cohort_retention(events: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts",
                     period_days: int = 7) -> DataFrame:
    """Cohort retention triangle: users are bucketed by the period of
    their FIRST event (cohort = floor(days-since-1970 / period_days),
    computed on the NAIVE date — zone-free in both engines, the q178
    discipline), and each later period counts how many of that cohort
    were active again.  The curve every ingest/engagement dashboard
    draws; here it doubles as crawl-source retention (how many hosts
    seen in week w still produce documents in week w+k).

    Returns (cohort_period, period_offset, n_active, retention_ppm)
    with retention_ppm = n_active * 1e6 div cohort size (the
    offset-0 row of each cohort, so every cohort's offset-0 reads
    exactly 1e6).

    Scale shape: one per-user min (map-side combinable, keyed by the
    high-cardinality user), one distinct over (user, period) — both
    shuffles keyed by user — then a (cohort, offset) count and a
    broadcast join of the per-cohort size dimension; nothing sorts
    the corpus and no window runs over more than the cohort
    dimension."""
    period = (events.select(F.col(user_col).alias("u"),
                            F.expr(f"unix_date(cast({ts_col} as date)) "
                                   f"div {int(period_days)}").alias("p")))
    first = period.groupBy("u").agg(F.min("p").alias("cohort"))
    active = (period.distinct()
              .join(first, "u")
              .groupBy("cohort", (F.col("p") - F.col("cohort"))
                       .alias("period_offset"))
              .agg(F.countDistinct("u").alias("n_active")))
    size = (first.groupBy("cohort")
            .agg(F.count("*").alias("cohort_n")))
    return (active.join(F.broadcast(size), "cohort")
            .select(F.col("cohort").cast("bigint").alias("cohort_period"),
                    F.col("period_offset").cast("bigint")
                    .alias("period_offset"),
                    F.col("n_active").cast("bigint").alias("n_active"),
                    F.expr("(n_active * 1000000) div cohort_n")
                    .cast("bigint").alias("retention_ppm")))


def event_transitions(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      tiebreak_col: str | None = None) -> DataFrame:
    """First-order Markov transition sheet over an event stream: for
    each user's time-ordered event sequence, count consecutive
    (src_type -> dst_type) steps corpus-wide and row-normalize to
    integer ppm — the behavioral fingerprint funnels (q178) are a
    special slice of, and the drift monitor for ingest streams (a
    template change shows up as a transition-mass shift before any
    per-type count moves).

    Ordering within a user is (ts, tiebreak_col) — pass the stream's
    unique event id; equal-timestamp events without a tiebreaker
    would make `lead` nondeterministic, so the tiebreaker is part of
    the cross-engine contract.

    Returns (src_type, dst_type, n, prob_ppm) with prob_ppm =
    n * 1e6 div (total transitions out of src_type).

    Scale shape: ONE window partitioned by the high-cardinality user
    key (never a global sort), one map-side-combinable pair count
    (output is |types|^2), and a broadcast join of the |types|-row
    src-total dimension."""
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (events.select(F.col(type_col).alias("src_type"),
                           F.lead(type_col).over(w).alias("dst_type"))
             .where(F.col("dst_type").isNotNull())
             .groupBy("src_type", "dst_type")
             .agg(F.count("*").alias("n")))
    tot = pairs.groupBy("src_type").agg(F.sum("n").alias("tot"))
    return (pairs.join(F.broadcast(tot), "src_type")
            .select("src_type", "dst_type",
                    F.col("n").cast("bigint").alias("n"),
                    F.expr("(n * 1000000) div tot")
                    .cast("bigint").alias("prob_ppm")))


def cusum_changepoint(events: DataFrame, ts_col: str, key_col: str,
                      pack_bits: int = 20) -> DataFrame:
    """Single change-point detection per key over the daily count
    series — the level-shift detector a crawl/ingest monitor runs
    where burst_days flags single spikes: the CUSUM statistic at
    split t of a T-day series with cumulative count S_t and total S_T

        C_t = | T * S_t - t * S_T |

    (the mean-centered cumulative sum scaled by T to stay integer)
    peaks at the day the underlying rate shifts.  Pure integer
    arithmetic end to end, cross-engine exact where the usual
    sigma-normalized CUSUM is not.

    The argmax day is selected with the house packed-integer max —
    C_t * 2^pack_bits + (2^pack_bits - 1 - t) — one combinable
    aggregate per key, ties broken toward the EARLIEST split; no
    corpus sort, no second pass.  Overflow bound: max(C_t) <= T * S_T
    must stay below 2^(63-pack_bits) (~8.8e12 at the default 20 bits
    — a 10k-day series at 880M events/key; assert upstream beyond
    that or shrink pack_bits).

    Day buckets via date_format on the raw column — NEVER
    unix-epoch arithmetic on a timestamp_ntz (the q178/q179 session-
    timezone trap).

    Returns one row per key: (key, n_days, total, change_day
    'yyyy-MM-dd', t_split, cusum_stat) where t_split is the 1-based
    day index whose PREFIX ends the left segment.

    Scale shape: one map-side-combinable (key, day) count; one
    per-key window over the daily table (|keys| x |days| rows, far
    below the event stream — partitions are day-count sized, never
    event-sized); one combinable per-key max."""
    pack = 1 << pack_bits
    daily = (events.select(F.col(key_col).alias("key"),
                           F.date_format(F.col(ts_col), "yyyy-MM-dd")
                           .alias("day"))
             .groupBy("key", "day").agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("key").orderBy("day")
    wall = Window.partitionBy("key")
    d = daily.select(
        "key", "day", "cnt",
        F.row_number().over(w).alias("t"),
        F.sum("cnt").over(w).alias("s_t"),
        F.sum("cnt").over(wall).alias("s_total"),
        F.count("*").over(wall).alias("n_days"))
    c = d.select(
        "key", "day", "t", "n_days", "s_total",
        F.abs(F.col("n_days") * F.col("s_t")
              - F.col("t") * F.col("s_total")).alias("c_t"))
    best = (c.groupBy("key")
            .agg(F.max(F.col("c_t") * pack
                       + (F.lit(pack - 1) - F.col("t"))).alias("pk"),
                 F.max("n_days").alias("n_days"),
                 F.max("s_total").alias("total")))
    split = best.select(
        "key", "n_days", "total",
        F.shiftright(F.col("pk"), pack_bits).alias("cusum_stat"),
        (F.lit(pack - 1) - F.pmod(F.col("pk"), F.lit(pack)))
        .cast("bigint").alias("t_split"))
    return (split.join(c.select("key", "day", "t"),
                       (split["key"] == c["key"])
                       & (split["t_split"] == c["t"]))
            .select(split["key"].alias(key_col),
                    F.col("n_days").cast("bigint").alias("n_days"),
                    F.col("total").cast("bigint").alias("total"),
                    F.col("day").alias("change_day"),
                    F.col("t_split"),
                    F.col("cusum_stat")))


def interval_join(left: DataFrame, right: DataFrame,
                  left_range: tuple[str, str] = ("ls", "le"),
                  right_range: tuple[str, str] = ("rs", "re"),
                  bucket: int = 64) -> DataFrame:
    """Interval-overlap equi-join via bucket expansion: the standard
    rewrite that turns an interval theta-join — which Spark can only
    plan as a broadcast nested loop, O(|L| x |R|) and unrunnable at
    100 TB — into a shuffle-partitionable EQUI-join.  Each interval
    explodes to the fixed-width buckets it covers, the join keys on
    bucket id, and each overlapping pair is counted EXACTLY ONCE by
    keeping it only in the bucket where the overlap STARTS
    (bucket == greatest(l_start, r_start) div width) — no
    distinct/dedup shuffle.  The batch interval x interval member
    of the temporal-join family; q31's as-of join handles point x
    latest.

    Endpoints are inclusive integers and must be NON-NEGATIVE
    (div truncates toward zero, so negative starts would land in
    the wrong bucket — days-since-epoch and event indexes qualify).
    Pick bucket near the typical interval length: output work per
    row is O(interval_len / bucket + 1) replicas, candidate pairs
    per bucket are what the exact overlap filter prunes.  Column
    names must be disjoint across the two inputs.

    Returns the joined rows (left.* + right.*) for every
    overlapping pair."""
    ls, le = left_range
    rs, re_ = right_range
    lb = left.withColumn(
        "_bk", F.explode(F.sequence(
            F.expr(f"{ls} div {bucket}"), F.expr(f"{le} div {bucket}"))))
    rb = right.withColumn(
        "_bk", F.explode(F.sequence(
            F.expr(f"{rs} div {bucket}"), F.expr(f"{re_} div {bucket}"))))
    return (lb.join(rb, "_bk")
            .where((F.col(ls) <= F.col(re_)) & (F.col(rs) <= F.col(le))
                   & (F.col("_bk")
                      == F.expr(f"greatest({ls}, {rs}) div {bucket}")))
            .drop("_bk"))


def seasonal_outliers(events: DataFrame, ts_col: str, key_col: str,
                      dev_pct: int = 50) -> DataFrame:
    """Seasonality-adjusted daily-volume anomalies: per key, build
    the day-of-week profile (mean daily count per weekday) and flag
    days deviating more than dev_pct% from THEIR OWN weekday's mean
    — the detector that survives weekly rhythm, where q85's
    global-mean burst rule alarms every Monday on a weekday-heavy
    stream and q189's CUSUM finds level shifts, not single days.

    Weekday = epoch_day % 7 (zone-free integer arithmetic on
    unix_date, the q178/q179 ntz discipline — NEVER dayofweek(),
    whose week origin differs across engines).  Deviation test in
    cross-multiplied integers: |cnt * n_days - total| * 100 >
    dev_pct * total, all per (key, weekday) — no division, no
    floats, no ties ambiguity.

    Scale shape: one (key, day) count, one (key, weekday) rollup
    (<= 7 rows per key, broadcast back), one flag pass.  Returns
    per key: (key, n_days, n_outlier_days, worst_day, worst_cnt)
    with worst = largest |cnt*n - total| packed-argmax, ties
    earliest day."""
    d = events.select(F.col(key_col).alias("k"),
                      F.unix_date(F.col(ts_col).cast("date"))
                      .alias("day"))
    daily = d.groupBy("k", "day").agg(
        F.count("*").cast("bigint").alias("cnt"))
    prof = (daily.withColumn("dow", F.pmod(F.col("day"), F.lit(7)))
            .groupBy("k", "dow")
            .agg(F.sum("cnt").alias("total"),
                 F.count("*").cast("bigint").alias("n_days")))
    j = (daily.withColumn("dow", F.pmod(F.col("day"), F.lit(7)))
         .join(F.broadcast(prof), ["k", "dow"]))
    dev = F.abs(F.col("cnt") * F.col("n_days") - F.col("total"))
    # packed argmax (house pattern): (dev, earliest-day-wins, cnt)
    # in one bigint — dev * 2^42 + (2^21-1-day) * 2^21 + cnt.
    # int64 bound: dev < 2^20 (daily count * days-per-weekday), day
    # and cnt < 2^21 — epoch days are ~1.5e4 and the profile totals
    # are corpus-day-bounded; callers with >2^20 deviations rescale
    m21 = 1 << 21
    packed = (F.col("dev").cast("bigint") * F.lit(1 << 42)
              + (F.lit(m21 - 1) - F.col("day")).cast("bigint")
              * F.lit(m21)
              + F.col("cnt"))
    agg = (j.withColumn("dev", dev)
           .withColumn("is_out",
                       (F.col("dev") * 100
                        > F.lit(dev_pct) * F.col("total"))
                       .cast("int"))
           .groupBy("k")
           .agg(F.countDistinct("day").cast("bigint").alias("n_days"),
                F.sum("is_out").cast("bigint")
                .alias("n_outlier_days"),
                F.max(F.when(F.col("is_out") == 1, packed))
                .alias("_pk")))
    return agg.select(
        F.col("k").alias(key_col), "n_days", "n_outlier_days",
        F.coalesce(F.lit(m21 - 1)
                   - F.pmod(F.expr("_pk div %d" % m21), F.lit(m21)),
                   F.lit(-1)).cast("bigint").alias("worst_day"),
        F.coalesce(F.pmod(F.col("_pk"), F.lit(m21)),
                   F.lit(-1)).cast("bigint").alias("worst_cnt"))
