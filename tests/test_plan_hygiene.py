"""Physical-plan assertions: the plans the 100 TB story depends on
must actually be the plans Catalyst produces (broadcast joins where
dims are small, partial aggregation before shuffles, column pruning
into the parquet scan)."""

import pytest

import __spark_entry__ as entry


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def sf01():
    return "/root/testdata/sf0.001"


def test_star_join_broadcasts_dims(spark, sf01):
    plan = _plan(entry.q02_region_revenue(spark, sf01))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_groupby_has_partial_aggregate(spark, sf01):
    plan = _plan(entry.q01_pricing_summary(spark, sf01))
    # two HashAggregates (partial + final) around one exchange:
    # map-side combine is what keeps a low-cardinality groupBy linear
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan, plan


def test_column_pruning_reaches_scan(spark, sf01):
    plan = _plan(entry.q11_token_count(spark, sf01))
    # the documents scan must read only doc_id + text, never the
    # whole-row (source, n_chars, lang stay unread)
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "doc_id" in scan and "text" in scan, scan
    assert "source" not in scan and "n_chars" not in scan, scan


def test_semi_join_filter_pushdown(spark, sf01):
    plan = _plan(entry.q06_semi_join(spark, sf01))
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" \
        in plan, plan


def test_topk_is_windowed_not_global_sort(spark, sf01):
    plan = _plan(entry.q03_topk_per_group(spark, sf01))
    # rank-per-group must shuffle by the group key, not globally sort
    assert "Window" in plan, plan


def test_ann_topk_uses_take_ordered(spark, sf01):
    plan = _plan(entry.q20_ann_bruteforce(spark, sf01))
    assert "TakeOrderedAndProject" in plan, plan


def test_q16_shingle_cap_in_plan(spark, sf01):
    """q16's capped-jaccard must aggregate shingle document frequency
    (the cap) before the self-join: two extra HashAggregates over
    shingle + a LeftSemi appear in the plan."""
    plan = _plan(entry.q16_jaccard_pairs(spark, sf01))
    assert "LeftSemi" in plan, plan


def test_linking_suffix_join_is_hash_not_nested_loop(spark):
    """Level-3 suffix candidates must plan as a broadcast HASH join on
    the last-2-jamo equi-key; a raw endswith theta-join would be a
    BroadcastNestedLoopJoin — O(|unlinked| x |entities|) comparisons
    at scale."""
    from python_mecab_ner_spark.operators.linking import (canonical_entities,
                                                          link_mentions)
    gaz = spark.createDataFrame([("FOOD", "f", "버거")],
                                "large string, small string, surface string")
    mentions = spark.createDataFrame(
        [("u1", 0, 1, "수제버거", "FOOD", "f")],
        "url string, start int, end int, surface string, large string, small string")
    ctx = spark.createDataFrame([("u1", 1, "먹", "VV")],
                                "url string, idx int, word string, pos string")
    nstats = spark.createDataFrame([("FOOD", "먹", "VV", 5)],
                                   "label string, word string, pos string, cnt long")
    linked = link_mentions(mentions, canonical_entities(gaz),
                           context_df=ctx, neighbor_stats_df=nstats,
                           core_stats_df=nstats)
    plan = _plan(linked)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_annotate_stage_is_shuffle_free(spark):
    from python_mecab_ner_spark.operators.annotate import annotate_pages
    from python_mecab_ner_spark.sources.corpus import pages_dataframe
    from python_mecab_ner_spark.sources.gazetteer import broadcast_rows
    ann = annotate_pages(pages_dataframe(spark, 10), broadcast_rows(spark))
    plan = _plan(ann)
    assert "Exchange" not in plan, plan


def test_q21_multiprobe_no_cartesian(spark, sf01):
    """Multi-probe candidate selection is a FILTER over band-key
    membership, not a join: no cartesian/nested-loop anywhere, and the
    top-k is TakeOrderedAndProject (never a global sort)."""
    plan = _plan(entry.q21_ann_lsh(spark, sf01))
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_fused_evidence_scoring_joins_context_once(spark):
    """The POINT of add_evidence_scores: the corpus-scale context
    table enters the physical plan exactly ONCE (one window-token
    join computing both scores), where the stepwise
    add_neighbor_scores + add_duplicate_scores composition scans it
    twice.  The context table is the only input carrying `idx`, so
    its scan node is identifiable in the formatted plan."""
    import re

    from python_mecab_ner_spark.operators.linking import (
        add_duplicate_scores, add_evidence_scores, add_neighbor_scores)

    ctx = spark.createDataFrame([("u1", 1, "먹", "VV")],
                                "url string, idx int, word string, pos string")
    nstats = spark.createDataFrame([("A", "먹", "VV", 5)],
                                   "label string, word string, pos string, cnt long")
    cstats = spark.createDataFrame([("B", "먹", "VV", 3)],
                                   "label string, word string, pos string, cnt long")
    cand = spark.createDataFrame([("u1", 2, 3, "A")],
                                 "url string, start int, end int, n_label string")

    def ctx_scans(df):
        plan = _plan(df)
        return len(re.findall(
            r"Scan ExistingRDD\s*\nOutput[^\n]*idx#", plan))

    assert ctx_scans(add_evidence_scores(cand, ctx, nstats, cstats)) == 1
    # sanity: the stepwise pair really does scan it twice
    stepwise = add_duplicate_scores(
        add_neighbor_scores(cand, ctx, nstats), ctx, nstats, cstats)
    assert ctx_scans(stepwise) == 2


def test_q43_stats_joins_broadcast(spark, sf01):
    """The additive-argmax scoring joins its (vocab-sized) stats table
    broadcast — a shuffle join on the stats side would shuffle the
    corpus-scale window-token table by word."""
    plan = _plan(entry.q43_dup_argmax(spark, sf01))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_line_dedup_broadcasts_frequent_set(spark, sf01):
    plan = _plan(entry.q48_line_dedup(spark, sf01))
    # the frequent-line survivor set must come back as a broadcast
    # join (boilerplate is tiny at any corpus size); the only
    # corpus-scale exchanges are the two aggregates
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x2


def test_bigram_pmi_broadcasts_vocab(spark, sf01):
    plan = _plan(entry.q50_bigram_pmi(spark, sf01))
    # both unigram joins + the scalar n_tok join are broadcasts;
    # no corpus-scale sort-merge join anywhere
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row n_tok cross
    assert "SortMergeJoin" not in plan, plan


def test_pii_redact_is_shuffle_free(spark, sf01):
    plan = _plan(entry.q47_pii_redact(spark, sf01))
    # pure per-row regexp map: scan -> project, zero exchanges
    assert "Exchange" not in plan, plan


def test_triangles_broadcast_degrees_no_cartesian(spark, sf01):
    plan = _plan(entry.q173_ktruss(spark, sf01))
    # the triangle enumeration under the k-truss peel: degree tables
    # come back as broadcasts; the wedge/closure joins are equi-joins,
    # never a cartesian product
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_surprisal_broadcasts_vocab(spark, sf01):
    plan = _plan(entry.q53_surprisal(spark, sf01))
    # the unigram vocabulary join is a broadcast; no corpus-scale
    # sort-merge join of the token stream
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stratified_sample_has_no_shuffle(spark, sf01):
    from pyspark.sql import functions as F
    from python_mecab_ner_spark.operators.sample import (
        hash_stratified_sample)
    d = spark.read.parquet(f"{sf01}/documents.parquet")
    kept = hash_stratified_sample(d, "doc_id", "lang", entry.SAMPLE_RATES,
                                  denom=entry.SAMPLE_DENOM)
    plan = _plan(kept.select(F.col("doc_id")))
    # the sample decision is per-row: broadcast rate dim only, never
    # a hash repartition of the corpus
    assert "hashpartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_pack_sequences_single_hash_exchange_no_global_sort(spark, sf01):
    plan = _plan(entry.q60_pack_sequences(spark, sf01))
    # one shuffle into hash buckets; a rangepartitioning exchange
    # would mean an accidental global sort (formatted plans carry the
    # partitioning in the Arguments detail line, not the node name)
    assert plan.count("(") and plan.count("Exchange") >= 1, plan
    assert "hashpartitioning" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Window" in plan, plan


def test_neighbor_jaccard_broadcasts_degree_dims(spark, sf01):
    plan = _plan(entry.q58_neighbor_jaccard(spark, sf01))
    # the two degree probes are broadcast (node vocabulary is
    # corpus-bounded); the wedge join is the only corpus-sized join
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q66_canonical_url_single_aggregate(spark, sf01):
    """URL canonicalization is projection-only before ONE combinable
    aggregate: no join, no window; the regexp chain stays in the
    scan-side stage."""
    plan = _plan(entry.q66_url_canonical(spark, sf01))
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_q68_weighted_rank_partial_aggregates(spark, sf01):
    """Each weighted-PageRank iteration must keep map-side partial
    aggregation on the inbound-mass groupBy (sum is combinable)."""
    plan = _plan(entry.q68_weighted_rank(spark, sf01))
    assert plan.count("HashAggregate") >= 6, plan  # 3 iters x partial+final


def test_q92_decay_single_aggregate_no_window(spark, sf01):
    """Recency decay: 1-row max-day broadcast + one combinable sum —
    no window, no shuffled join."""
    plan = _plan(entry.q92_recency_decay(spark, sf01))
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_q95_hist_gate_windows_only_boundary_bin(spark, sf01):
    """The corpus-side rank window must run on the FILTERED boundary
    bin, never the raw stratum: exactly TWO Window nodes — the
    histogram cumsum (printed once as the persisted strata-sized
    dimension's stored plan, read back by both branches as
    InMemoryTableScan instead of re-running the corpus aggregate)
    and the boundary rank downstream of the bin-equality filter;
    a third window would mean the full-sort gate snuck back in."""
    import re
    plan = _plan(entry.q95_quality_hist_gate(spark, sf01))
    # boundary selection happens via broadcast (strata-sized dim)
    assert "BroadcastHashJoin" in plan, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_q96_cooccurrence_equijoin_no_range_join(spark, sf01):
    """The +-window pair join is an EQUI-join on (doc, position)
    (exploded offsets pre-added into the key) — a range condition
    would plan as a nested-loop join and die at corpus scale."""
    plan = _plan(entry.q96_cooccurrence(spark, sf01))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_q116_pps_sample_windows_per_stratum(spark, sf01):
    """Sequential-Poisson sampling ranks INSIDE each source partition
    (hashpartitioning by source before the window), never a global
    sort."""
    plan = _plan(entry.q116_weighted_sample(spark, sf01))
    assert "Window" in plan, plan
    assert "hashpartitioning(source" in plan, plan


def test_q121_blocklist_zero_shuffle(spark, sf01):
    """Pure per-row JVM string expressions: no Exchange, no UDF."""
    plan = _plan(entry.q121_blocklist(spark, sf01))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_q140_functionality_no_window_no_udf(spark, sf01):
    """Distinct pair set -> one grouped aggregate (the count-distinct
    pair rides an Expand, still map-side combinable); no window, no
    python."""
    plan = _plan(entry.q140_pred_functionality(spark, sf01))
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_q141_domain_range_broadcasts_type_dim(spark, sf01):
    """The entity-type dimension must broadcast to both endpoint
    joins; no window anywhere (argmax is min-over-ties)."""
    df = entry.q141_domain_range(spark, sf01)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "Window" not in plan, plan
    df.unpersist_input()


def test_q142_inverse_join_is_hash_not_cartesian(spark, sf01):
    """The reversed-pair self-join must key on the (subj, obj) pair —
    a hash/merge equi-join, never a cross product over predicates."""
    df = entry.q142_inverse_preds(spark, sf01)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    df.unpersist_input()


def test_q143_mix_weights_single_count_no_window(spark, sf01):
    """One combinable per-class count + a 1-row broadcast total; all
    integer JVM expressions."""
    plan = _plan(entry.q143_mix_weights(spark, sf01))
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_contrastive_negative_dim_broadcasts(spark, sf01):
    # q160's negative dimension is n_buckets rows — the probe join
    # must broadcast it, and the positive join must not global-sort
    plan = _plan(entry.q160_contrastive_pairs(spark, sf01))
    assert "BroadcastHashJoin" in plan, plan


def test_itemsets_closure_verifies_against_broadcast(spark, sf01):
    # the a-priori candidate closure check is a semi-join against the
    # frequent-pair dimension — broadcast, never shuffled
    plan = _plan(entry.q163_itemsets(spark, sf01))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    df = entry.q163_itemsets(spark, sf01)
    rel = getattr(df, "unpersist_input", None)
    if rel:
        rel()


def test_alignment_weight_dim_broadcasts(spark, sf01):
    # q155: the per-predicate functionality weights are a tiny dim —
    # broadcast into the shared-statement join
    plan = _plan(entry.q155_entity_alignment(spark, sf01))
    assert "BroadcastHashJoin" in plan, plan


def test_edge_cut_is_scan_plus_aggregate_only(spark, sf01):
    # layout audit must stay join-free: pure projections + combinable
    # aggregates per layout, then a union of 1-row results
    plan = _plan(entry.q157_edge_cut(spark, sf01))
    for bad in ("SortMergeJoin", "BroadcastHashJoin",
                "CartesianProduct"):
        assert bad not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
