"""Learned-statistics linking: the reference's neighbor-counter
disambiguation and inference ladder, ported as goldens.

The homonym golden is reference tests/test_category_save.py:92-108
(test_duplicate_filter): train 'food: 좋은 차를 마셨어' (drank good
tea) and 'product: 좋은 차를 몰았어' (drove a good car); the query
sentence '좋은 차를 마셨어' must resolve 좋은 차 to food because the
neighbor 마시 evidence lives in food's counter — exactly the
delete_duplicate_value mechanism (mecab_category_storage.py:39-63).
"""

import pytest
from pyspark.sql import functions as F

from python_mecab_ner_spark.kernel.stats import (best_label, brute_score,
                                                 core_counts,
                                                 duplicate_score,
                                                 neighbor_counts,
                                                 score_label)

# hand-built morpheme rows mirroring the reference's MeCab output for
# the golden sentences (word, pos)
SENT_DRINK = [("좋", "VA"), ("은", "ETM"), ("차", "NNG"), ("를", "JKO"),
              ("마시", "VV"), ("었", "EP"), ("어", "EF")]
SENT_DRIVE = [("좋", "VA"), ("은", "ETM"), ("차", "NNG"), ("를", "JKO"),
              ("몰", "VV"), ("았", "EP"), ("어", "EF")]
SPAN = (0, 3)  # 좋은 차 covers tokens 0..2


def _train_counts():
    c1 = neighbor_counts(SENT_DRINK, [(SPAN[0], SPAN[1], "food")])
    c2 = neighbor_counts(SENT_DRIVE, [(SPAN[0], SPAN[1], "product")])
    merged = dict(c1)
    for k, v in c2.items():
        merged[k] = merged.get(k, 0) + v
    return merged


def test_homonym_golden_kernel():
    """reference test_category_save.py:108: ('좋', 'B-food') wins."""
    counts = _train_counts()
    ctx = [SENT_DRINK[i] for i in range(len(SENT_DRINK))
           if not (SPAN[0] <= i < SPAN[1])][:3]  # +-3 window after span
    win = best_label(["food", "product"],
                     lambda lab: score_label(counts, lab, ctx), floor=1)
    assert win is not None and win[0] == "food"
    # and the drive context picks product symmetrically
    ctx2 = [SENT_DRIVE[i] for i in range(len(SENT_DRIVE))
            if not (SPAN[0] <= i < SPAN[1])][:3]
    win2 = best_label(["food", "product"],
                      lambda lab: score_label(counts, lab, ctx2), floor=1)
    assert win2 is not None and win2[0] == "product"


def test_homonym_golden_spark(spark):
    """The Spark operators reproduce the kernel golden exactly:
    build_neighbor_stats == neighbor_counts, add_neighbor_scores ==
    score_label, rank-1 == best_label."""
    from python_mecab_ner_spark.operators.linking import (
        add_neighbor_scores, build_neighbor_stats)

    rows = ([("u1", i, w, p) for i, (w, p) in enumerate(SENT_DRINK)]
            + [("u2", i, w, p) for i, (w, p) in enumerate(SENT_DRIVE)])
    ctx = spark.createDataFrame(rows, "url string, idx int, word string, pos string")
    mentions = spark.createDataFrame(
        [("u1", SPAN[0], SPAN[1], "food"), ("u2", SPAN[0], SPAN[1], "product")],
        "url string, start int, end int, large string")
    stats = build_neighbor_stats(ctx, mentions)

    # cross-engine agreement with the kernel counts
    got = {(r.label, r.word, r.pos): r.cnt for r in stats.collect()}
    assert got == _train_counts()

    cand = spark.createDataFrame(
        [("u1", SPAN[0], SPAN[1], lab) for lab in ("food", "product")],
        "url string, start int, end int, n_label string")
    scored = {r.n_label: r.n_score
              for r in add_neighbor_scores(cand, ctx, stats).collect()}
    counts = _train_counts()
    ctx_tokens = [SENT_DRINK[i] for i in range(len(SENT_DRINK))
                  if not (SPAN[0] <= i < SPAN[1])][:3]
    assert scored["food"] == score_label(counts, "food", ctx_tokens)
    assert scored["product"] == score_label(counts, "product", ctx_tokens)
    assert scored["food"] > scored["product"]


def test_duplicate_score_kernel():
    """The reference's SECOND disambiguation policy (delete_duplicate,
    mecab_category_storage.py:619-656): +-5 raw core+neighbor sum,
    POS-gated to NNG/NNP/VV/VA, anchor position excluded.  Same
    training corpus as the ported test_duplicate_filter golden — the
    '좋은 차' homonym must STILL resolve to food under this policy."""
    nc = _train_counts()
    cc = core_counts({"food": [SENT_DRINK[0:3]],
                      "product": [SENT_DRIVE[0:3]]})
    anchor = 2  # 차 — the mention's core (last) token
    # POS gate keeps only 좋/VA and 마시/VV from the query window;
    # food's neighbor counter holds 마시 -> 1; product's holds 몰 -> 0
    assert duplicate_score(cc, nc, "food", SENT_DRINK, anchor) == 1
    assert duplicate_score(cc, nc, "product", SENT_DRINK, anchor) == 0
    win = best_label(["food", "product"],
                     lambda lab: duplicate_score(cc, nc, lab,
                                                 SENT_DRINK, anchor),
                     floor=0)
    assert win == ("food", 1)
    # ungated: 를/JKO and 었/EP evidence now counts for both labels
    assert duplicate_score(cc, nc, "food", SENT_DRINK, anchor,
                           pos_filter=None) == 3
    assert duplicate_score(cc, nc, "product", SENT_DRINK, anchor,
                           pos_filter=None) == 1
    # anchor exclusion: the core counter's own (차, NNG) never scores
    cc2 = {("food", "차", "NNG"): 7}
    assert duplicate_score(cc2, {}, "food", SENT_DRINK, anchor) == 0


def test_duplicate_score_spark_agreement(spark):
    """operators.linking.add_duplicate_scores == kernel
    duplicate_score on the golden corpus (both labels, both gates)."""
    from python_mecab_ner_spark.operators.linking import (
        add_duplicate_scores, build_core_stats, build_neighbor_stats)

    rows = ([("u1", i, w, p) for i, (w, p) in enumerate(SENT_DRINK)]
            + [("u2", i, w, p) for i, (w, p) in enumerate(SENT_DRIVE)])
    ctx = spark.createDataFrame(rows, "url string, idx int, word string, pos string")
    mentions = spark.createDataFrame(
        [("u1", SPAN[0], SPAN[1], "food"), ("u2", SPAN[0], SPAN[1], "product")],
        "url string, start int, end int, large string")
    nstats = build_neighbor_stats(ctx, mentions)
    cstats = build_core_stats(ctx, mentions)
    cand = spark.createDataFrame(
        [("u1", SPAN[0], SPAN[1], lab) for lab in ("food", "product")],
        "url string, start int, end int, n_label string")
    # Spark anchor = end - 1 == kernel anchor 2
    got = {r.n_label: r.d_score
           for r in add_duplicate_scores(cand, ctx, nstats, cstats).collect()}
    nc, cc = _train_counts(), core_counts({"food": [SENT_DRINK[0:3]],
                                           "product": [SENT_DRIVE[0:3]]})
    assert got == {lab: duplicate_score(cc, nc, lab, SENT_DRINK, 2)
                   for lab in ("food", "product")}
    ungated = {r.n_label: r.d_score
               for r in add_duplicate_scores(cand, ctx, nstats, cstats,
                                             pos_filter=None).collect()}
    assert ungated == {lab: duplicate_score(cc, nc, lab, SENT_DRINK, 2,
                                            pos_filter=None)
                       for lab in ("food", "product")}


def test_fused_evidence_scores_agree(spark):
    """add_evidence_scores (one fused context join) == the stepwise
    add_neighbor_scores + add_duplicate_scores composition, on a
    corpus engineered so the two policy windows genuinely differ:
    tokens at distance 4 from the anchor sit inside the +-5 duplicate
    window but outside the +-3 neighbor window, a POS-gated token
    (JKO) contributes to n but never d, and one span has no evidence
    at all (both floors must fire)."""
    from python_mecab_ner_spark.operators.linking import (
        add_duplicate_scores, add_evidence_scores, add_neighbor_scores)

    ctx = spark.createDataFrame(
        [("u1", 1, "먹", "VV"), ("u1", 4, "를", "JKO"),
         ("u1", 6, "마시", "VV"), ("u1", 7, "몰", "VV"),
         ("u2", 0, "zzz", "SY")],
        "url string, idx int, word string, pos string")
    nstats = spark.createDataFrame(
        [("A", "먹", "VV", 5), ("A", "를", "JKO", 2), ("B", "마시", "VV", 7)],
        "label string, word string, pos string, cnt long")
    cstats = spark.createDataFrame(
        [("B", "마시", "VV", 3), ("B", "몰", "VV", 100)],
        "label string, word string, pos string, cnt long")
    cand = spark.createDataFrame(
        [("u1", 2, 3, "A", 0), ("u1", 2, 3, "B", 0),
         ("u2", 0, 1, "A", 3), ("u2", 0, 1, "B", 3)],
        "url string, start int, end int, n_label string, link_level int")

    def by_key(df):
        return {(r.url, r.start, r.end, r.n_label): (r.n_score, r.d_score)
                for r in df.collect()}

    for pos_filter in (None, frozenset(["NNG", "NNP", "VV", "VA"])):
        stepwise = by_key(add_duplicate_scores(
            add_neighbor_scores(cand, ctx, nstats), ctx, nstats, cstats,
            pos_filter=pos_filter))
        fused = by_key(add_evidence_scores(cand, ctx, nstats, cstats,
                                           pos_filter=pos_filter))
        assert fused == stepwise
    # sanity on the gated fused run — the engineered differences fired:
    # A: 먹(6) x 를(3) in the neighbor product; 를 POS-gated out of d
    assert fused[("u1", 2, 3, "A")] == (6 * 3, 5)
    # B: 마시 at anchor-distance 4 is duplicate-only evidence (7+3);
    # 몰 at idx 7 is outside BOTH windows (union upper bound)
    assert fused[("u1", 2, 3, "B")] == (1, 10)
    assert fused[("u2", 0, 1, "A")] == (1, 0)   # both floors


def test_fused_evidence_scores_random_kernel_agreement(spark):
    """Randomized (seeded) engine-vs-kernel agreement for the fused
    scorer: 30 docs x 15 tokens, random stats, random spans — the
    Spark add_evidence_scores must match kernel score_label (neighbor
    product over the +-3 window) and kernel duplicate_score (+-5
    additive, POS-gated and ungated) row-for-row."""
    import random

    from python_mecab_ner_spark.kernel.stats import DUPLICATE_POS
    from python_mecab_ner_spark.operators.linking import add_evidence_scores

    rng = random.Random(7)
    words = [f"w{i}" for i in range(12)]
    poses = ["NNG", "VV", "JKO", "SY"]
    labels = ["A", "B", "C"]
    token_rows, ctx_rows, cand_rows = {}, [], []
    for d in range(30):
        url = f"u{d}"
        toks = [(rng.choice(words), rng.choice(poses)) for _ in range(15)]
        token_rows[url] = toks
        ctx_rows += [(url, i, w, p) for i, (w, p) in enumerate(toks)]
        start = rng.randint(0, 12)
        end = start + rng.randint(1, 3)
        cand_rows += [(url, start, end, lab) for lab in labels]
    nc, cc = {}, {}
    for lab in labels:
        for _ in range(20):
            k = (lab, rng.choice(words), rng.choice(poses))
            nc[k] = nc.get(k, 0) + rng.randint(1, 5)
        for _ in range(10):
            k = (lab, rng.choice(words), rng.choice(poses))
            cc[k] = cc.get(k, 0) + rng.randint(1, 5)

    ctx = spark.createDataFrame(ctx_rows,
                                "url string, idx int, word string, pos string")
    nstats = spark.createDataFrame([(l, w, p, c) for (l, w, p), c in nc.items()],
                                   "label string, word string, pos string, cnt long")
    cstats = spark.createDataFrame([(l, w, p, c) for (l, w, p), c in cc.items()],
                                   "label string, word string, pos string, cnt long")
    cand = spark.createDataFrame(cand_rows,
                                 "url string, start int, end int, n_label string")

    for pos_filter in (DUPLICATE_POS, None):
        got = {(r.url, r.start, r.end, r.n_label): (r.n_score, r.d_score)
               for r in add_evidence_scores(cand, ctx, nstats, cstats,
                                            pos_filter=pos_filter).collect()}
        assert len(got) == len(cand_rows)
        for url, start, end, lab in cand_rows:
            toks = token_rows[url]
            win = [toks[i] for i in range(max(0, start - 3),
                                          min(len(toks), end + 3))
                   if not (start <= i < end)]
            exp_n = score_label(nc, lab, win)
            exp_d = duplicate_score(cc, nc, lab, toks, end - 1,
                                    pos_filter=pos_filter)
            assert got[(url, start, end, lab)] == (exp_n, exp_d), \
                (url, start, end, lab, pos_filter)


def test_core_counts_and_brute():
    counts = core_counts({"food": [SENT_DRINK[0:3]],
                          "drink": [[("콜라", "NNG")]]})
    assert counts[("food", "차", "NNG")] == 1
    assert brute_score(counts, "food", [("차", "NNG"), ("를", "JKO")]) == 1
    assert brute_score(counts, "drink", [("차", "NNG")]) == 0
    assert best_label(["food", "drink"],
                      lambda lab: brute_score(counts, lab, [("차", "NNG")]),
                      floor=0)[0] == "food"


@pytest.fixture()
def ladder(spark):
    """A tiny corpus that deterministically exercises linking levels
    3 (suffix + neighbor evidence), 4 (brute core-count inference) and
    5 (unlinked)."""
    from python_mecab_ner_spark.operators.linking import (canonical_entities,
                                                          link_mentions)
    gaz = spark.createDataFrame(
        [("FOOD", "f", "버거"), ("DRINK", "d", "콜라")],
        "large string, small string, surface string")
    entities = canonical_entities(gaz)
    mentions = spark.createDataFrame(
        [("u1", 1, 2, "수제버거", "FOOD", "f"),     # suffix of 버거 -> L3
         ("u2", 1, 2, "김치찌개", "FOOD", "f"),     # no suffix -> L4 via core
         ("u3", 1, 2, "없는것", "FOOD", "f")],      # no evidence -> L5
        "url string, start int, end int, surface string, large string, small string")
    ctx = spark.createDataFrame(
        [("u1", 0, "맛있", "VA"), ("u1", 2, "먹", "VV"),
         ("u2", 0, "시원", "VA"), ("u2", 2, "마시", "VV"),
         ("u3", 0, "zzz", "SY"), ("u3", 2, "qqq", "SY")],
        "url string, idx int, word string, pos string")
    nstats = spark.createDataFrame(
        [("FOOD", "먹", "VV", 5), ("DRINK", "마시", "VV", 7)],
        "label string, word string, pos string, cnt long")
    cstats = spark.createDataFrame(
        [("DRINK", "마시", "VV", 3)],
        "label string, word string, pos string, cnt long")
    return link_mentions(mentions, entities, context_df=ctx,
                         neighbor_stats_df=nstats, core_stats_df=cstats)


def test_ladder_levels_3_4_5(ladder, spark):
    from python_mecab_ner_spark.functions.hashing import md5_int
    rows = {r.url: r for r in ladder.collect()}
    assert rows["u1"].link_level == 3          # suffix + evidence
    assert rows["u1"].entity_id is not None
    assert rows["u2"].link_level == 4          # brute core inference
    expected_drink = spark.range(1).select(
        md5_int(F.lit("label:DRINK")).alias("h")).first().h
    assert rows["u2"].entity_id == expected_drink
    assert rows["u3"].link_level == 5          # unlinked
    assert rows["u3"].entity_id is None


def test_disambig_policy_selects_winner(spark):
    """The neighbor policy orders the rank-1 window: neighbor evidence
    at +-3 favors label A and wins, although heavy CORE evidence at
    distance 4 (inside the reference's +-5 duplicate window, outside
    the +-3 neighbor window) favors label B."""
    from python_mecab_ner_spark.operators.linking import (canonical_entities,
                                                          link_mentions)
    gaz = spark.createDataFrame(
        [("A", "x", "콜라"), ("B", "y", "콜라")],
        "large string, small string, surface string")
    entities = canonical_entities(gaz)
    # the ambiguous span: one row per detected category (the engine's
    # span table shape for multi-category spans)
    mentions = spark.createDataFrame(
        [("u1", 2, 3, "콜라", "A", "x"), ("u1", 2, 3, "콜라", "B", "y")],
        "url string, start int, end int, surface string, large string, small string")
    ctx = spark.createDataFrame(
        [("u1", 1, "먹", "VV"), ("u1", 6, "마시", "VV")],
        "url string, idx int, word string, pos string")
    nstats = spark.createDataFrame(
        [("A", "먹", "VV", 5)],
        "label string, word string, pos string, cnt long")
    cstats = spark.createDataFrame(
        [("B", "마시", "VV", 100)],
        "label string, word string, pos string, cnt long")

    out = link_mentions(mentions, entities, context_df=ctx,
                        neighbor_stats_df=nstats,
                        core_stats_df=cstats).collect()
    assert len(out) == 1 and out[0].link_level == 0
    assert out[0].large == "A"
