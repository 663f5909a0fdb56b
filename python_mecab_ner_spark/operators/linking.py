"""Entity linking: mentions -> canonical entity ids.

Generalizes the reference's staged strict->loose->infer match ladder
(NerExtractor.get_entity levels STRICT_CORE/LOOSE_CORE/PART_INFER/
BRUTE_INFER, reference mecab_category_storage.py:19-22,481-532) into
FIVE passes of decreasing strictness, plus the reference's
neighbor-evidence homonym disambiguation (delete_duplicate_value,
mecab_category_storage.py:39-63,619-656) applied WITHIN the final
rank-1 window:

  level 0  STRICT    exact surface equality, same large category
  level 1  LOOSE     jamo-normalized equality (spacing/jamo variants)
  level 2  PART      shared-token evidence, same large category,
                     scored by shared-token count (L8/L9 as joins)
  level 3  NEIGHBOR  jamo-SUFFIX candidates across ALL categories
                     (the compound-extension case: span 서울대병원 vs
                     alias 병원), accepted only with positive
                     +-3-neighbor evidence — the learned-statistics
                     scoring of reference set_mecab_token_storage /
                     delete_duplicate_value (:326-354, :39-63)
  level 4  BRUTE     label-level inference: argmax over labels of the
                     core-count sum in the [start-2, end+2) window
                     (reference set_infer_ner brute branch, :534-595);
                     links to the deterministic LABEL pseudo-entity
                     md5('label:'+large) — the type-level-node
                     fallback of KG construction
  level 5  UNLINKED  entity_id NULL

Scores are the kernel/stats.py exact-integer family (capped product ==
argmax twin of the reference's log-smoothed sum; see its docstring) so
every scoring decision is bit-stable and SQL-expressible.

Scale shape: the entity dimension is tiny relative to the corpus ->
F.broadcast on every pass; neighbor stats are an aggregated (label,
word, pos) table, also broadcast.  Context joins are keyed by url
(high-cardinality) with per-url token counts bounded.  The expensive
non-equi suffix join (level 3) and the brute scoring run only on the
anti-joined REMAINDER of earlier levels, and in-window neighbor
disambiguation only on spans with >1 candidate entity — at web scale
both remainders are small fractions of the corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import md5_int
from ..kernel.stats import (BRUTE_DISTANCE, DUPLICATE_DISTANCE,
                            DUPLICATE_POS, NEIGHBOR_DISTANCE, SCORE_CAP)

MENTION_COLS = ["url", "start", "end", "surface", "large", "small"]
OUT_COLS = MENTION_COLS + ["entity_id", "link_level", "link_score"]
LEVEL_UNLINKED = 5
SPAN_KEY = ["url", "start", "end"]


def _jamo_key_udf(col):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StringType())
    def jk(s: pd.Series) -> pd.Series:
        from ..kernel.jamo import to_jamo
        return s.map(lambda x: to_jamo((x or "").replace(" ", "").lower()))
    return jk(col)


def canonical_entities(gazetteer_df: DataFrame) -> DataFrame:
    """Gazetteer -> entity dimension: one entity per distinct
    (large, small, surface) with a stable portable id and a
    jamo-normalized alias key."""
    return (gazetteer_df
            .select("large", "small", "surface").distinct()
            .withColumn("entity_id",
                        md5_int(F.concat_ws("|", "large", "small", "surface")))
            .withColumn("jamo_key", _jamo_key_udf(F.col("surface"))))


def label_entity_id(label_col):
    """Deterministic pseudo-entity id for a label-level (type) node."""
    return md5_int(F.concat(F.lit("label:"), label_col))


def build_neighbor_stats(context_df: DataFrame, mentions_df: DataFrame,
                         window: int = NEIGHBOR_DISTANCE) -> DataFrame:
    """The L5 training aggregation (reference set_mecab_token_storage
    neighbor_word, mecab_category_storage.py:347-353) as one groupBy
    job: per label (large category), counts of (word, pos) context
    tokens within +-window of a mention span, span-internal positions
    excluded.

    context_df: (url, idx, word, pos) exploded tokens;
    mentions_df: (url, start, end, large).
    Output (label, word, pos, cnt) — a small aggregate, broadcast to
    every scoring pass (partial aggregation makes the build map-side
    combinable; at 100 TB this is one linear pass)."""
    m = mentions_df.select("url", "start", "end",
                           F.col("large").alias("label"))
    ctx = context_df.select("url", "idx", "word", "pos")
    return (m.join(ctx, "url")
            .where((F.col("idx") >= F.col("start") - window)
                   & (F.col("idx") < F.col("end") + window)
                   & ((F.col("idx") < F.col("start"))
                      | (F.col("idx") >= F.col("end"))))
            .groupBy("label", "word", "pos")
            .agg(F.count("*").alias("cnt")))


def build_core_stats(context_df: DataFrame, mentions_df: DataFrame) -> DataFrame:
    """The L5 core_key_word aggregation (reference :339-345): per
    label, counts of the mention's LAST (word, pos) token."""
    m = mentions_df.select("url", (F.col("end") - 1).alias("idx"),
                           F.col("large").alias("label"))
    return (m.join(context_df.select("url", "idx", "word", "pos"),
                   ["url", "idx"])
            .groupBy("label", "word", "pos")
            .agg(F.count("*").alias("cnt")))


def build_stats(context_df: DataFrame, mentions_df: DataFrame,
                window: int = NEIGHBOR_DISTANCE):
    """(neighbor_stats, core_stats) from ONE mention-context join +
    ONE aggregation: each joined row is tagged neighbor (inside the
    +-window, outside the span) and/or core (the span's last token),
    then a single groupBy sums both tags — halving the corpus-join
    cost of building the two counters separately (they are identical
    in semantics to build_neighbor_stats / build_core_stats)."""
    m = mentions_df.select("url", "start", "end",
                           F.col("large").alias("label"))
    ctx = context_df.select("url", "idx", "word", "pos")
    j = (m.join(ctx, "url")
         .where((F.col("idx") >= F.col("start") - window)
                & (F.col("idx") < F.col("end") + window)))
    is_neighbor = ((F.col("idx") < F.col("start"))
                   | (F.col("idx") >= F.col("end"))).cast("long")
    is_core = (F.col("idx") == F.col("end") - 1).cast("long")
    # the combined aggregate is vocab-sized (tiny); persisting IT means
    # the corpus join runs exactly once no matter how many broadcasts
    # read either stats table downstream
    agg = (j.groupBy("label", "word", "pos")
           .agg(F.sum(is_neighbor).alias("n_cnt"),
                F.sum(is_core).alias("c_cnt"))
           .persist())
    nstats = (agg.where("n_cnt > 0")
              .select("label", "word", "pos", F.col("n_cnt").alias("cnt")))
    cstats = (agg.where("c_cnt > 0")
              .select("label", "word", "pos", F.col("c_cnt").alias("cnt")))
    nstats.unpersist_input = cstats.unpersist_input = agg.unpersist
    return nstats, cstats


def _window_tokens(keyed: DataFrame, context_df: DataFrame,
                   lo_off: int, hi_off: int, exclude_span: bool) -> DataFrame:
    """keyed (url, start, end, ...) x context -> one row per context
    token with idx in [start - lo_off, end + hi_off)."""
    ctx = context_df.select("url", "idx",
                            F.col("word").alias("c_word"),
                            F.col("pos").alias("c_pos"))
    j = (keyed.join(ctx, "url")
         .where((F.col("idx") >= F.col("start") - lo_off)
                & (F.col("idx") < F.col("end") + hi_off)))
    if exclude_span:
        j = j.where((F.col("idx") < F.col("start"))
                    | (F.col("idx") >= F.col("end")))
    return j


def _stats_for_join(stats_df: DataFrame) -> DataFrame:
    return stats_df.select(F.col("label").alias("s_label"),
                           F.col("word").alias("c_word"),
                           F.col("pos").alias("c_pos"),
                           F.col("cnt").alias("s_cnt"))


def neighbor_score_col():
    """Capped-product factor: min(cnt, CAP) + 1 (kernel.stats twin)."""
    return F.least(F.col("s_cnt"), F.lit(SCORE_CAP)) + F.lit(1)


def add_neighbor_scores(cand: DataFrame, context_df: DataFrame,
                        stats_df: DataFrame,
                        window: int = NEIGHBOR_DISTANCE) -> DataFrame:
    """cand (url, start, end, n_label, ...) -> + n_score bigint: the
    capped-product neighbor score of the candidate's label over the
    span's +-window context (floor 1 when no evidence).

    Plan: window-token explode (url-keyed join), broadcast stats join
    on (label, word, pos), product aggregate — the product stays exact
    because factors are <= 64 over <= 2*window tokens (2^36 < 2^53)."""
    keys = SPAN_KEY + ["n_label"]
    base = cand.select(*keys).distinct()
    toks = _window_tokens(base, context_df, window, window, True)
    hits = toks.join(
        F.broadcast(_stats_for_join(stats_df)
                    .withColumnRenamed("s_label", "n_label")),
        on=["n_label", "c_word", "c_pos"], how="inner")
    scores = (hits.groupBy(*keys)
              .agg(F.product(neighbor_score_col()).cast("bigint")
                   .alias("n_score")))
    return (cand.join(scores, keys, "left")
            .withColumn("n_score", F.coalesce("n_score", F.lit(1))))


def add_duplicate_scores(cand: DataFrame, context_df: DataFrame,
                         neighbor_stats_df: DataFrame,
                         core_stats_df: DataFrame,
                         window: int = DUPLICATE_DISTANCE,
                         pos_filter=DUPLICATE_POS) -> DataFrame:
    """cand (url, start, end, n_label, ...) -> + d_score bigint: the
    reference's SECOND disambiguation policy (delete_duplicate,
    mecab_category_storage.py:619-656) as the additive Spark twin of
    kernel.stats.duplicate_score: raw SUM of core + neighbor counts of
    the candidate's label over [anchor-window, anchor+window), anchor
    excluded, POS-gated to DUPLICATE_POS (pos_filter=None disables the
    gate for untagged corpora).

    anchor = end - 1, the mention's core (last) token — the reference
    anchors the window on the candidate's matched-token index, and its
    candidate generation matches on the LAST token (L8).

    Plan twin of add_neighbor_scores: distinct (span, label) keys,
    url-keyed window-token join, ONE broadcast join against the
    summed core+neighbor stats table, additive aggregate, join back."""
    keys = SPAN_KEY + ["n_label"]
    base = cand.select(*keys).distinct()
    anchor = F.col("end") - 1
    ctx = context_df.select("url", "idx",
                            F.col("word").alias("c_word"),
                            F.col("pos").alias("c_pos"))
    toks = (base.join(ctx, "url")
            .where((F.col("idx") >= anchor - window)
                   & (F.col("idx") < anchor + window)
                   & (F.col("idx") != anchor)))
    if pos_filter is not None:
        toks = toks.where(F.col("c_pos").isin(*sorted(pos_filter)))
    both = (_stats_for_join(neighbor_stats_df)
            .unionByName(_stats_for_join(core_stats_df))
            .groupBy("s_label", "c_word", "c_pos")
            .agg(F.sum("s_cnt").alias("s_cnt")))
    hits = toks.join(
        F.broadcast(both.withColumnRenamed("s_label", "n_label")),
        on=["n_label", "c_word", "c_pos"], how="inner")
    scores = (hits.groupBy(*keys)
              .agg(F.sum("s_cnt").cast("bigint").alias("d_score")))
    return (cand.join(scores, keys, "left")
            .withColumn("d_score", F.coalesce("d_score", F.lit(0))))


def add_evidence_scores(cand: DataFrame, context_df: DataFrame,
                        neighbor_stats_df: DataFrame,
                        core_stats_df: DataFrame,
                        n_window: int = NEIGHBOR_DISTANCE,
                        d_window: int = DUPLICATE_DISTANCE,
                        pos_filter=DUPLICATE_POS) -> DataFrame:
    """Fused twin of add_neighbor_scores + add_duplicate_scores: ONE
    window-token context join + ONE broadcast stats join + ONE
    aggregate computing BOTH evidence columns (n_score, d_score) —
    the two stepwise passes each join the corpus-scale context table,
    so when the rank-1 policy is "duplicate" (which needs both
    scores: the level-3 gate is always the neighbor score) fusion
    halves the corpus-join cost of evidence scoring.

    Exactness vs the stepwise pair (pinned by
    tests/test_linking_stats.py::test_fused_evidence_scores_agree):
    the joined window is the UNION of the two policies' windows and
    each row is TAGGED per policy instead of filtered —
      n: idx in [start-n_window, end+n_window), span excluded,
         factor min(cnt, CAP)+1 over NEIGHBOR stats hits only;
      d: idx in [anchor-d_window, anchor+d_window) for anchor=end-1,
         anchor excluded, POS-gated, additive over core+neighbor sums.
    The broadcast side is the vocab-sized outer merge of the two
    stats tables, so a token hitting either table joins once and
    contributes factor 1 / addend 0 to the policy it has no evidence
    for (identical to the stepwise inner joins + coalesce floors)."""
    keys = SPAN_KEY + ["n_label"]
    base = cand.select(*keys).distinct()
    ctx = context_df.select("url", "idx",
                            F.col("word").alias("c_word"),
                            F.col("pos").alias("c_pos"))
    anchor = F.col("end") - 1
    lo = F.least(F.col("start") - n_window, anchor - d_window)
    hi = F.greatest(F.col("end") + n_window, anchor + d_window)
    toks = (base.join(ctx, "url")
            .where((F.col("idx") >= lo) & (F.col("idx") < hi)))
    in_n = ((F.col("idx") >= F.col("start") - n_window)
            & (F.col("idx") < F.col("end") + n_window)
            & ((F.col("idx") < F.col("start"))
               | (F.col("idx") >= F.col("end"))))
    in_d = ((F.col("idx") >= anchor - d_window)
            & (F.col("idx") < anchor + d_window)
            & (F.col("idx") != anchor))
    if pos_filter is not None:
        in_d = in_d & F.col("c_pos").isin(*sorted(pos_filter))
    nst = (neighbor_stats_df
           .select("label", F.col("word").alias("c_word"),
                   F.col("pos").alias("c_pos"),
                   F.col("cnt").alias("n_cnt")))
    cst = (core_stats_df
           .select("label", F.col("word").alias("c_word"),
                   F.col("pos").alias("c_pos"),
                   F.col("cnt").alias("c_cnt")))
    merged = (nst.join(cst, ["label", "c_word", "c_pos"], "outer")
              .withColumn("d_cnt", F.coalesce("n_cnt", F.lit(0))
                          + F.coalesce("c_cnt", F.lit(0)))
              .withColumnRenamed("label", "n_label"))
    hits = toks.join(F.broadcast(merged),
                     on=["n_label", "c_word", "c_pos"], how="inner")
    n_factor = F.when(in_n & F.col("n_cnt").isNotNull(),
                      F.least(F.col("n_cnt"), F.lit(SCORE_CAP)) + F.lit(1)
                      ).otherwise(F.lit(1))
    d_addend = F.when(in_d, F.col("d_cnt")).otherwise(F.lit(0))
    scores = (hits.groupBy(*keys)
              .agg(F.product(n_factor).cast("bigint").alias("n_score"),
                   F.sum(d_addend).cast("bigint").alias("d_score")))
    return (cand.join(scores, keys, "left")
            .withColumn("n_score", F.coalesce("n_score", F.lit(1)))
            .withColumn("d_score", F.coalesce("d_score",
                                              F.lit(0).cast("bigint"))))


def brute_link(unlinked: DataFrame, context_df: DataFrame,
               core_stats_df: DataFrame,
               window: int = BRUTE_DISTANCE) -> DataFrame:
    """Level-4 BRUTE_INFER (reference set_infer_ner brute branch,
    mecab_category_storage.py:577-581): label score = SUM of core
    counts over the [start-2, end+2) window (span included, as in the
    reference); argmax label with score > 0 links to the label
    pseudo-entity.

    Plan: window tokens join the broadcast core stats on (word, pos)
    — every matching (token, label) pair scores at once, no
    label cross-join — then sum per (span, label) and rank-1."""
    base = unlinked.select(*MENTION_COLS)
    toks = _window_tokens(base, context_df, window, window, False)
    st = (core_stats_df.select(F.col("label").alias("b_label"),
                               F.col("word").alias("c_word"),
                               F.col("pos").alias("c_pos"),
                               F.col("cnt").alias("s_cnt")))
    scored = (toks.join(F.broadcast(st), ["c_word", "c_pos"], "inner")
              .groupBy(*MENTION_COLS, "b_label")
              .agg(F.sum("s_cnt").cast("bigint").alias("link_score"))
              .where(F.col("link_score") > 0))
    w = Window.partitionBy(*SPAN_KEY).orderBy(
        F.col("link_score").desc(), F.col("b_label").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .select(*MENTION_COLS,
                    label_entity_id(F.col("b_label")).alias("entity_id"),
                    F.lit(4).alias("link_level"), "link_score"))


def link_mentions(mentions_df: DataFrame, entities_df: DataFrame,
                  context_df: DataFrame, neighbor_stats_df: DataFrame,
                  core_stats_df: DataFrame) -> DataFrame:
    """mentions (url, start, end, surface, large, small) ->
    + (entity_id, link_level, link_score); unlinkable mentions keep
    entity_id NULL at level LEVEL_UNLINKED.

    The full 6-level ladder runs over the context tokens and the
    learned neighbor/core stats, and learned evidence disambiguates
    multi-candidate spans inside the final rank-1 window.  That window
    is ordered by the reference's delete_duplicate_value policy: the
    +-3 capped-product neighbor score (mecab_category_storage.py:39-63),
    the same score that gates level-3 candidates.

    Deliberately ONE lazy job: the consumer's single action computes
    every persisted working set with full stage overlap.  The
    alternative (materializing each working set with its own eager
    count) was measured 56% SLOWER at 50k docs (36.3s vs 23.3s
    median, local[32]) because the per-set barriers forfeit
    inter-branch stage overlap; its only benefit — shrinking the
    ~15 MiB per-stage task binaries the monolithic plan serializes —
    buys nothing at scale, since task-binary size is bounded by PLAN
    size (a constant), not by data."""
    # persist the entity-dim projection: it is referenced by FOUR
    # candidate branches (l0/l1/l2/l3) which the ladder's windows,
    # scoring joins, and anti-joins then re-reference — un-cached, the
    # jamo-UDF subtree replicates ~150x in the physical plan and its
    # pandas UDF re-executes once per reference.  The dim is KB-sized
    # (entities, not corpus), so the cache cost is negligible at any
    # scale.
    ent = entities_df.select(
        F.col("entity_id").alias("e_id"),
        F.col("large").alias("e_large"),
        F.col("surface").alias("alias"),
        F.col("jamo_key").alias("e_jamo")).persist()

    # persist the jamo-keyed mention table: it anchors four candidate
    # branches (l0/l1/l2/un1) and the jamo pandas UDF would otherwise
    # re-run per branch over the whole mention set
    m = mentions_df.select(*MENTION_COLS) \
        .withColumn("m_jamo", _jamo_key_udf(F.col("surface"))).persist()

    l0 = (m.join(F.broadcast(ent),
                 (m.surface == F.col("alias")) & (m.large == F.col("e_large")))
          .select(*MENTION_COLS, F.col("e_id").alias("entity_id"),
                  F.lit(0).alias("link_level"),
                  F.lit(100).cast("bigint").alias("link_score"),
                  F.col("e_large").alias("n_label")))

    l1 = (m.join(F.broadcast(ent),
                 (F.col("m_jamo") == F.col("e_jamo")) & (m.large == F.col("e_large")))
          .select(*MENTION_COLS, F.col("e_id").alias("entity_id"),
                  F.lit(1).alias("link_level"),
                  F.lit(50).cast("bigint").alias("link_score"),
                  F.col("e_large").alias("n_label")))

    # level 2: shared-token evidence (token = whitespace word of the
    # surface), same large category
    m_tok = m.withColumn("tok", F.explode(F.split("surface", " ")))
    e_tok = (ent.withColumn("tok", F.explode(F.split("alias", " ")))
             .select("e_id", "e_large", "tok"))
    l2 = (m_tok.join(F.broadcast(e_tok),
                     (m_tok.large == F.col("e_large")) & (m_tok.tok == e_tok.tok))
          .groupBy(*MENTION_COLS, "e_id", "e_large")
          .agg(F.count("*").cast("bigint").alias("link_score"))
          .select(*MENTION_COLS, F.col("e_id").alias("entity_id"),
                  F.lit(2).alias("link_level"), "link_score",
                  F.col("e_large").alias("n_label")))

    # persist the mention-scale level-0..2 candidate working set FIRST:
    # it anchors the level-3 anti-join, the scoring join, the rank
    # window, and the remainder anti-joins — without materialization
    # each reference replays the whole candidate-generation subtree and
    # the plan grows multiplicatively (the linking working set is the
    # one table the reference holds in RAM; persisting it is the
    # distributed equivalent).  Persisting BEFORE the level-3 anti-join
    # matters: round 2 persisted the l0..l3 union, whose l3 branch
    # itself anti-joins the l0..l2 union — so materializing the cache
    # computed l0..l2 twice.  The persisted HANDLES are captured in
    # dedicated names: `candidates` is rebound to derived frames below,
    # and unpersist() on a derived frame is a silent no-op (the round-2
    # working-set leak).
    cand_ws = l0.unionByName(l1).unionByName(l2).persist()

    # level 3 NEIGHBOR candidates: only for spans no earlier level
    # touched — jamo-suffix aliases across categories; the floor
    # filter below rejects candidates without neighbor evidence.
    # The suffix match is keyed on the last-2-jamo equi-key so the
    # join plans as a broadcast HASH join (a raw endswith condition
    # would be a nested loop: O(|unlinked| x |entities|)
    # comparisons, which dies when both grow).
    un1 = (m.join(cand_ws.select(*SPAN_KEY).distinct(),
                  SPAN_KEY, "left_anti"))
    ent_sfx = ent.withColumn("_sfx", F.substring(F.col("e_jamo"), -2, 2))
    l3_ws = (un1.withColumn("_sfx", F.substring(F.col("m_jamo"), -2, 2))
             .join(F.broadcast(ent_sfx), "_sfx")
             .where((F.length(F.col("e_jamo")) >= 2)
                    & (F.col("m_jamo") != F.col("e_jamo"))
                    & F.col("m_jamo").endswith(F.col("e_jamo")))
             .select(*MENTION_COLS, F.col("e_id").alias("entity_id"),
                     F.lit(3).alias("link_level"),
                     F.lit(0).cast("bigint").alias("link_score"),
                     F.col("e_large").alias("n_label"))
             .persist())  # anti-join + suffix join run once, not 3x
    candidates = cand_ws.unionByName(l3_ws)

    # Evidence scoring is only DECISIVE for (a) level-3 candidates
    # (the n_score > 1 acceptance gate) and (b) spans whose
    # candidates carry MORE THAN ONE label — scores are keyed by
    # (span, label), so on a single-label span every row shares
    # one score and the rank-1 ordering is unchanged by it.  Most
    # web-corpus spans are single-label exact matches, so scoring
    # ONLY the ambiguous/level-3 subset removes the bulk of the
    # window-token join and the score join-back at identical
    # output (the pinned kg link-level histogram is the regression
    # gate).  The label-count window shuffles by SPAN_KEY — the
    # same key the final rank window uses.
    wspan = Window.partitionBy(*SPAN_KEY)
    cand_n = candidates.withColumn(
        "_nl", F.size(F.collect_set("n_label").over(wspan)))
    need = (cand_n.where((F.col("_nl") > 1)
                         | (F.col("link_level") == 3)).drop("_nl"))
    solo = (cand_n.where((F.col("_nl") == 1)
                         & (F.col("link_level") != 3)).drop("_nl")
            .withColumn("n_score", F.lit(1).cast("bigint")))
    # ONE evidence-scoring pass over the decisive subset: scores
    # the level-3 evidence floor AND the in-window homonym
    # disambiguation (reference delete_duplicate_value)
    scored = (add_neighbor_scores(need, context_df, neighbor_stats_df)
              .where((F.col("link_level") != 3)
                     | (F.col("n_score") > 1))
              .withColumn(
                  "link_score",
                  F.when(F.col("link_level") == 3,
                         F.col("n_score"))
                  .otherwise(F.col("link_score"))))
    candidates = scored.unionByName(solo)

    # rank-1 per mention: best level, then the neighbor evidence (the
    # reference's disambiguation), then level score, stable id
    w = Window.partitionBy(*SPAN_KEY).orderBy(
        F.col("link_level").asc(), F.col("n_score").desc(),
        F.col("link_score").desc(), F.col("entity_id").asc())
    best = (candidates.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1").drop("_rn", "n_score", "n_label")
            .persist())

    linked = best.select(OUT_COLS)
    rem_ws = (mentions_df.select(*MENTION_COLS)
              .join(best.select(*SPAN_KEY).distinct(), SPAN_KEY,
                    "left_anti").persist())
    l4 = brute_link(rem_ws, context_df, core_stats_df)
    brute = l4.select(OUT_COLS)
    unlinked = (rem_ws.join(l4.select(*SPAN_KEY).distinct(),
                            SPAN_KEY, "left_anti")
                .withColumn("entity_id", F.lit(None).cast("bigint"))
                .withColumn("link_level", F.lit(LEVEL_UNLINKED))
                .withColumn("link_score", F.lit(0).cast("bigint")))
    out = linked.unionByName(brute).unionByName(unlinked.select(OUT_COLS))

    def _release():
        for df in (ent, m, cand_ws, l3_ws, best, rem_ws):
            try:
                df.unpersist()
            except Exception:
                pass
    # release hook for callers that loop over corpora (the persisted
    # working set otherwise stays in the SQL CacheManager for the
    # session lifetime — same contract as dedup.py's unpersist_input)
    out.unpersist_working_set = _release
    return out
