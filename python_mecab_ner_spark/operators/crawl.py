"""Crawl-snapshot maintenance: the incremental half of a continuously
re-crawled corpus.

A recrawl delivers a new snapshot over an overlapping url universe;
the table of record wants the LATEST page per url (upsert semantics —
what Iceberg MERGE INTO does downstream) plus the change ledger
(added / changed / unchanged / carried) that drives incremental
reprocessing: only `added` + `changed` pages re-enter the annotate ->
link -> graph pipeline, everything else reuses its lineage partition
(plans/lineage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint


def merge_crawls(old: DataFrame, new: DataFrame, key: str = "url",
                 ts: str = "warc_ts") -> DataFrame:
    """Latest-per-key snapshot merge: union + ONE combinable max_by
    aggregate ordered by (ts, snapshot-rank) — new wins ties.  No
    window, no second shuffle; the upsert a 100 TB table does as an
    Iceberg MERGE expresses here as a single hash aggregate keyed by
    url (high-cardinality, skew-free)."""
    cols = [c for c in old.columns if c != key]
    u = (old.withColumn("_src", F.lit(0))
         .unionByName(new.withColumn("_src", F.lit(1))))
    payload = F.struct(*[F.col(c) for c in cols])
    return (u.groupBy(key)
            .agg(F.max_by(payload, F.struct(F.col(ts), F.col("_src")))
                 .alias("_p"))
            .select(key, *[F.col(f"_p.{c}").alias(c) for c in cols]))


def crawl_budget(scores: DataFrame, budget: int, key: str = "host",
                 score: str = "score") -> DataFrame:
    """Deterministic fetch-slot apportionment across hosts by the
    largest-remainder (Hamilton) method — the crawl-scheduler step
    between "host priorities" (PageRank, recrawl ledger) and "how many
    URLs from each host go into this crawl round":

        base(h)  = (budget * score(h)) div total_score
        leftover = budget - sum(base)   (< n_hosts always)
        the leftover slots go +1 each to the largest remainders,
        ties broken by smallest key

    All integer arithmetic, exact invariant sum(slots) == budget at
    any scale and on any engine — proportional-float rounding can
    violate both.  Returns (key, score, base, slots).

    Scale shape: one tiny total aggregate broadcast back, one
    combinable base/remainder projection, and ONE ranking over the
    HOST DIMENSION (corpus-bounded vocabulary of hosts, not the page
    corpus) to place the leftover slots.  Beyond a dimension-sized
    host table, replace the rank window with a broadcast top-k
    (TakeOrderedAndProject of the `leftover` largest remainders) —
    the semantics are identical because only rank <= leftover
    matters."""
    from pyspark.sql import Window
    s = scores.select(F.col(key).alias("k"),
                      F.col(score).cast("bigint").alias("s"))
    total = s.agg(F.sum("s").alias("tot"))
    withq = (s.crossJoin(F.broadcast(total))
             .select("k", "s",
                     F.expr(f"({budget} * s) div tot").alias("base"),
                     F.expr(f"({budget} * s) % tot").alias("rem")))
    left = withq.agg((F.lit(budget) - F.sum("base")).alias("leftover"))
    w = Window.orderBy(F.col("rem").desc(), F.col("k").asc())
    return (withq.withColumn("rk", F.row_number().over(w))
            .crossJoin(F.broadcast(left))
            .select(F.col("k").alias(key), F.col("s").alias(score),
                    F.col("base").cast("bigint").alias("base"),
                    (F.col("base")
                     + F.when(F.col("rk") <= F.col("leftover"), 1)
                     .otherwise(0)).cast("bigint").alias("slots")))


def recrawl_stats(old: DataFrame, new: DataFrame, key: str = "url",
                  text_col: str = "text") -> DataFrame:
    """Change ledger between two snapshots: per-status url counts.

    added     — url only in the new crawl
    changed   — both crawls, content fingerprint differs
    unchanged — both crawls, identical content
    carried   — url not re-fetched (old content remains current)

    One full-outer shuffled join on the url key (both sides projected
    to (key, fingerprint) first — the join ships two thin columns, not
    pages) + one combinable aggregate.  `added + changed` is the
    incremental work list; its size, not the corpus size, is what the
    recrawl pipeline pays."""
    o = old.select(F.col(key).alias("k"),
                   fingerprint(F.col(text_col)).alias("ofp"))
    n = new.select(F.col(key).alias("k"),
                   fingerprint(F.col(text_col)).alias("nfp"))
    j = o.join(n, "k", "full_outer")
    status = (F.when(F.col("nfp").isNull(), "carried")
              .when(F.col("ofp").isNull(), "added")
              .when(F.col("ofp") == F.col("nfp"), "unchanged")
              .otherwise("changed"))
    return (j.select(status.alias("status"))
            .groupBy("status")
            .agg(F.count("*").cast("bigint").alias("n_urls")))


def decay_activity(events: DataFrame, ts_col: str = "ts",
                   key_col: str = "user_id",
                   half_life_days: int = 7,
                   base: int = 1 << 20) -> DataFrame:
    """Recency-weighted activity score — the recrawl-priority /
    trending-key signal that plain counts miss: each event contributes
    base >> (age_days div half_life_days), i.e. an exact power-of-two
    half-life decay anchored at the corpus' newest day.

    Exponential decay is normally exp(-age/tau) — float, and
    cross-engine drift-prone in a 100-TB sum.  The shift form keeps
    the ENTIRE path in 64-bit integers (the same discipline as the
    fixed-point PageRank family): equal-age events contribute equal
    integers, the per-key sum is one combinable aggregate, and the
    DuckDB oracle hash-matches bit-for-bit.

    Scale shape: one 1-row max-day aggregate broadcast back (the only
    global state), then scan -> weight projection -> hash aggregate on
    the key; no window, no second shuffle.  Shifts are capped at 62 so
    pre-epoch stragglers degrade to weight 0 instead of overflowing.

    Returns (key, n_events, decayed) sorted by the caller."""
    d = F.to_date(F.col(ts_col))
    maxd = events.agg(F.max(d).alias("_maxd"))
    age = F.datediff(F.col("_maxd"), d)
    shift = F.least(F.floor(age / half_life_days).cast("int"), F.lit(62))
    w = F.expr(f"shiftright(CAST({base} AS BIGINT), _shift)")
    return (events.crossJoin(F.broadcast(maxd))
            .select(F.col(key_col).alias("key"), shift.alias("_shift"))
            .select("key", w.alias("_w"))
            .groupBy("key")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.sum("_w").cast("bigint").alias("decayed")))


def robots_gate(urls: DataFrame, rules: DataFrame,
                host_col: str = "host",
                path_col: str = "path") -> DataFrame:
    """Robots-style frontier gating: a URL is blocked iff ANY
    disallow rule registered for its host is a PREFIX of its path —
    the politeness filter between "frontier of discovered URLs" and
    "fetch queue" in every crawler (robots.txt Disallow semantics,
    prefix-match form).

    rules is (host, prefix) — a dimension-sized table (hosts x a few
    rules each), so the gate is zero-shuffle on the frontier side:
    rules collapse to one array per host (tiny aggregate), BROADCAST
    into the frontier, and the prefix test is a per-row `exists` over
    that array.  The 100 TB frontier never exchanges; there is no
    per-(url, rule) row multiplication and no groupBy back onto the
    url key (the join is at most 1:1 after the per-host collapse).

    Returns the frontier with an integer `blocked` flag (1/0) —
    composable with crawl_budget (allowed URLs per host -> slots)."""
    per_host = (rules.groupBy(F.col(host_col).alias("_h"))
                .agg(F.sort_array(F.collect_list(path_col))
                     .alias("_prefixes")))
    j = urls.join(F.broadcast(per_host),
                  urls[host_col] == per_host["_h"], "left")
    path = F.col(path_col)
    blocked = F.when(F.col("_prefixes").isNull(), F.lit(0)).otherwise(
        F.exists("_prefixes", lambda r: path.startswith(r)).cast("int"))
    return j.select(*[urls[c] for c in urls.columns],
                    blocked.cast("int").alias("blocked"))


def fetch_rounds(urls: DataFrame, host_col: str = "host",
                 id_col: str = "doc_id",
                 salt: str = "fetch:") -> DataFrame:
    """Politeness-schedule depth audit: under the one-request-per-
    host-per-round discipline every crawler enforces, the r-th URL of
    a host is fetched in round r — so the distribution of r IS the
    crawl's parallelism-decay curve (round 1 touches every host at
    once; the tail rounds serialize behind the biggest hosts), and
    max(r) is the makespan in rounds.  This reports the log2-bucketed
    round histogram: bucket = bit_length(round), with per-bucket URL
    and host counts and auditable round bounds.

    Within-host order is a deterministic salted-md5 priority (tie:
    id) — reproducible at any cluster size, like every other ordering
    in this engine.

    Returns (bucket, n_urls, n_hosts, min_round, max_round).

    Scale shape: the only window is row_number PARTITIONED BY HOST —
    each host's URLs sort independently (host-parallel, the exact
    shape a per-host fetch queue has at runtime), never a global
    sort; then ONE dimension-sized aggregate (log2 buckets of the max
    host size: ~40 rows at any scale).  A mega-host skews its single
    partition — the same AQE-skew / per-host-cap territory as
    crawl_budget, which is the knob that bounds it upstream."""
    from pyspark.sql import Window

    from ..functions.hashing import md5_int
    pr = md5_int(F.col(id_col).cast("string"), salt=salt)
    w = (Window.partitionBy(host_col)
         .orderBy(pr.asc(), F.col(id_col).asc()))
    rounds = urls.select(F.col(host_col).alias("_h"),
                         F.row_number().over(w).alias("_r"))
    return (rounds.groupBy(F.length(F.bin(F.col("_r"))).cast("int")
                           .alias("bucket"))
            .agg(F.count("*").cast("bigint").alias("n_urls"),
                 F.countDistinct("_h").cast("bigint").alias("n_hosts"),
                 F.min("_r").cast("bigint").alias("min_round"),
                 F.max("_r").cast("bigint").alias("max_round")))


def change_rate_schedule(snaps: DataFrame, url_col: str = "url",
                         epoch_col: str = "epoch",
                         fp_col: str = "fp") -> DataFrame:
    """Recrawl scheduling from snapshot history (the change-frequency
    estimator of Cho & Garcia-Molina 2003 in its exact-integer MLE
    form): given per-epoch content fingerprints of each url, count
    observed change TRANSITIONS (fingerprint differs from the
    previous epoch's) and estimate change_rate_ppm = changes * 1e6
    div observed intervals — the number a crawler sorts by to decide
    which pages to refresh first.  refresh_bucket = bit_length of the
    rate collapses the schedule into ~20 priority classes (bucket 20
    = changes every epoch, bucket 0 = never changed), the shape a
    frontier queue actually consumes.

    Returns per url: (url, n_epochs, n_changes, change_rate_ppm,
    refresh_bucket).  All integers; urls observed once have 0
    intervals and report rate 0 (no evidence, lowest priority — the
    cold-start rule; a real scheduler seeds them via the host prior).

    Scale shape: ONE window partitioned BY URL (each url's handful of
    epochs sorts independently — url-parallel, never a global sort)
    feeding ONE url-keyed combinable aggregate.  Snapshot history is
    naturally epoch-partitioned on disk; the url shuffle is the only
    exchange, and it is also the join key every downstream recrawl
    step uses."""
    from pyspark.sql import Window

    w = Window.partitionBy(url_col).orderBy(F.col(epoch_col).asc())
    prev = F.lag(F.col(fp_col)).over(w)
    chg = (F.when(prev.isNull(), F.lit(0))
           .otherwise((F.col(fp_col) != prev).cast("int")))
    per = (snaps.select(F.col(url_col).alias("url"),
                        chg.alias("_chg"))
           .groupBy("url")
           .agg(F.count("*").cast("bigint").alias("n_epochs"),
                F.sum("_chg").cast("bigint").alias("n_changes")))
    rate = F.expr("CASE WHEN n_epochs > 1 THEN "
                  "(n_changes * 1000000) div (n_epochs - 1) "
                  "ELSE 0 END").cast("bigint")
    return (per.withColumn("change_rate_ppm", rate)
            .withColumn("refresh_bucket",
                        F.when(F.col("change_rate_ppm") == 0, F.lit(0))
                        .otherwise(F.length(F.bin(
                            F.col("change_rate_ppm"))))
                        .cast("int")))


def suffix_prefix_stitch(df: DataFrame, text_col: str, id_col: str,
                         k: int = 4) -> DataFrame:
    """Truncated-page reassembly candidates: pairs (a, b) where A's
    LAST k whitespace tokens equal B's FIRST k tokens — the join a
    crawl pipeline runs to re-join pages a fetcher truncated
    mid-document or a CMS split into continuation pages (the
    boundary k-gram is shared verbatim across the cut).  The dedup
    family can't see these: the halves are NOT near-duplicates of
    each other, their relationship is boundary adjacency.

    Shape: one projection computes both boundary keys per doc (no
    explode), then a single equi-join on the k-gram key — candidate
    volume is bounded by boundary-key collisions, not corpus size
    squared; natural-language k-grams at k>=4 are near-unique, and a
    pathological repeated boundary (boilerplate banner) surfaces as
    a hot key, not a crash.
    Docs shorter than 2k tokens are excluded (their prefix and
    suffix would overlap, which stitching semantics do not allow).

    Returns (doc_a, doc_b, boundary): A's tail == B's head, a != b."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (df.select(F.col(id_col).alias("doc"), toks.alias("t"))
            .where(F.size("t") >= 2 * k))
    sfx = base.select(F.col("doc").alias("doc_a"),
                      F.array_join(F.slice("t", -k, k), " ")
                      .alias("boundary"))
    pfx = base.select(F.col("doc").alias("doc_b"),
                      F.array_join(F.slice("t", 1, k), " ")
                      .alias("boundary"))
    return (sfx.join(pfx, "boundary")
            .where(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b", "boundary"))


def url_path_templates(urls: DataFrame, url_col: str = "url",
                       hex_min_len: int = 8) -> DataFrame:
    """URL path-template mining: generalize each path segment that is
    an instance identifier — all-digits -> ``{n}``, long lower-hex
    (>= hex_min_len chars, the id/UUID-fragment shape) -> ``{h}`` —
    and count URLs per (host, template).  The structural induction a
    crawler runs to find CMS route patterns: template frequency
    separates content routes (/post/{n}) from crawler traps
    (calendar pages, session-id explosions — one template with
    unbounded {n} fan-out), and the template key is what per-route
    dedup/scheduling policies attach to.

    RE2-safe patterns only (anchored char classes, no lookaround or
    backrefs) so the DuckDB oracle runs the byte-identical rules.
    One narrow projection (split + per-segment CASE inside a single
    transform — segment counts are tiny, the interpreted-HOF rule is
    about outer-expression re-eval, not per-element work) + one
    combinable groupBy on (host, template); no shuffle beyond the
    count.  Query strings are template noise and are cut before
    segmentation.

    Returns (host, template, n_urls)."""
    u = F.col(url_col)
    host = F.regexp_extract(u, r"^[a-z]+://([^/?#]+)", 1)
    path = F.regexp_extract(u, r"^[a-z]+://[^/?#]+([^?#]*)", 1)
    seg = F.filter(F.split(path, "/"), lambda s: s != F.lit(""))
    gen = F.transform(
        seg,
        lambda s: F.when(s.rlike(r"^[0-9]+$"), F.lit("{n}"))
        .when(s.rlike(r"^[0-9a-f]{%d,}$" % hex_min_len), F.lit("{h}"))
        .otherwise(s))
    tmpl = F.concat(F.lit("/"), F.array_join(gen, "/"))
    return (urls.select(host.alias("host"), tmpl.alias("template"))
            .groupBy("host", "template")
            .agg(F.count("*").cast("bigint").alias("n_urls")))


def scd2_merge(history: DataFrame, snap: DataFrame, t: int,
               key: str = "url", fp: str = "fp") -> DataFrame:
    """Slowly-changing-dimension type-2 merge: fold one crawl
    snapshot into a versioned page HISTORY table — every (key,
    fingerprint) version carries [valid_from, valid_to) with an open
    (NULL) valid_to for the current version.  The temporal-table
    complement of merge_crawls/recrawl_stats (those keep ONLY the
    latest; this keeps every version's lifetime, which is what
    change-rate models, as-of reconstruction, and deletion audits
    read).  Per merge: changed fingerprints close at t and reopen
    with the new fingerprint; keys absent from the snapshot close
    at t (deletion is an event, not a row drop); new keys open at
    t; identical fingerprints pass through untouched.

    One key-partitioned full outer join between the OPEN slice and
    the snapshot plus unions — no windows, no skew beyond key
    cardinality; closed rows stream through untouched, so the cost
    per merge is bounded by |open| + |snap| regardless of history
    depth (at 100 TB, partition history by valid_to range so the
    closed mass is never rescanned).

    Duplicate snapshot keys (the same URL fetched twice in one
    batch) are resolved DETERMINISTICALLY to the lexicographically
    least fingerprint before the join — an unguarded duplicate
    would fan the full join out into contradictory open rows (two
    "current" versions of one key, found by review); pick the
    winner upstream (recrawl_merge's max_by) if arrival order
    matters.  History produced by this function is unique-per-open-
    key by construction.

    Returns the new history (key, fp, valid_from, valid_to)."""
    closed = (history.where(F.col("valid_to").isNotNull())
              .select(key, fp, "valid_from", "valid_to"))
    open_ = (history.where(F.col("valid_to").isNull())
             .select(F.col(key), F.col(fp).alias("_ofp"),
                     "valid_from"))
    s = (snap.select(F.col(key), F.col(fp).alias("_nfp"))
         .groupBy(key).agg(F.min("_nfp").alias("_nfp")))
    j = open_.join(s, key, "full")
    same = (j.where(F.col("_ofp") == F.col("_nfp"))
            .select(F.col(key), F.col("_ofp").alias(fp), "valid_from",
                    F.lit(None).cast("bigint").alias("valid_to")))
    closed_now = (j.where(F.col("_ofp").isNotNull()
                          & (F.col("_nfp").isNull()
                             | (F.col("_nfp") != F.col("_ofp"))))
                  .select(F.col(key), F.col("_ofp").alias(fp),
                          "valid_from",
                          F.lit(t).cast("bigint").alias("valid_to")))
    opened_now = (j.where(F.col("_nfp").isNotNull()
                          & (F.col("_ofp").isNull()
                             | (F.col("_nfp") != F.col("_ofp"))))
                  .select(F.col(key), F.col("_nfp").alias(fp),
                          F.lit(t).cast("bigint").alias("valid_from"),
                          F.lit(None).cast("bigint").alias("valid_to")))
    return (closed.unionByName(same).unionByName(closed_now)
            .unionByName(opened_now))
