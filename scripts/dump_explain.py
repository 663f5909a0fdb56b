"""Dump formatted physical plans of the headline queries to
EXPLAIN.md so plan hygiene is reviewable without running Spark.
Regenerate: python scripts/dump_explain.py

Spark numbers expression ids (`#N`), exchange ids (`plan_id=N`), RDD
ids (`RDD[N]`) and higher-order-function lambda variables (`lambda
x_N`) across the whole session, so each section renumbers them from 1
in order of first appearance.  An RDD's call site names the
JVM's reflective-call frame, which reads `NativeMethodAccessorImpl.java`
until the JVM has inflated that method's accessor after enough calls
and `<unknown>` after, so it is written as one fixed token.  A section
then reads the same whatever ran before it, and a diff shows only real
plan changes."""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SHOW = ["q01_pricing_summary", "q02_region_revenue", "q04_event_islands",
        "q16_jaccard_pairs", "q17_lsh_pairs", "q20_ann_bruteforce",
        "q21_ann_lsh", "q33_neighbor_stats", "q34_context_argmax",
        "q36_bio_export", "q40_pagerank", "q43_dup_argmax",
        "q44_evidence_scores", "q47_pii_redact",
        "q48_line_dedup", "q49_khop", "q50_bigram_pmi",
        "q53_surprisal",
        "q54_window_dedup", "q55_stratified_sample", "q56_quality_gate",
        "q58_neighbor_jaccard",
        "q60_pack_sequences", "q62_ppr", "q63_funnel",
        "q64_cohort_retention", "q66_url_canonical",
        "q67_chunk_overlap", "q68_weighted_rank", "q69_hash_split",
        "q70_communities", "q72_training_prep",
        "q78_source_mix",
        "q80_kn_continuation", "q81_crawl_budget", "q83_fuzzy_alias",
        "q84_importance_weights",
        "q92_recency_decay", "q95_quality_hist_gate",
        "q96_cooccurrence",
        "q99_degree_histogram",
        "q105_source_risk", "q106_source_overlap", "q107_next_word",
        "q108_eval_sample",
        # round 4
        "q154_modularity", "q155_entity_alignment",
        "q156_type_propagation", "q157_edge_cut",
        "q159_warm_pagerank", "q160_contrastive_pairs",
        "q161_wl_classes", "q163_itemsets", "q164_graph_contraction",
        "q165_epoch_allocation",
        # round 5
        "q171_sorted_neighborhood", "q173_ktruss",
        "q177_mis", "q180_semantic_decon",
        # final round-5 sweep
        "q184_bootstrap_ci", "q185_wilson", "q186_hearst",
        "q188_merge_matching",
        "q190_betweenness", "q192_stitch",
        "q193_coverage_selection", "q195_url_templates",
        # round-5 continuation
        "q197_boruvka_mst", "q198_densest",
        "q200_pareto", "q202_good_turing",
        "q203_jsonl_ledger",
        "q206_temporal_reach", "q208_scd2_history",
        # post-closeout
        "q209_textrank", "q210_zorder_layout",
        "q212_spam_mass", "q213_rand_ari",
        "q220_reshard", "q223_neyman",
        "q228_fresh_rank"]


_SESSION_ID = re.compile(r"(#|plan_id=|RDD\[|lambda \w+?_)(\d+)")
_REFLECTIVE_FRAME = re.compile(r"(?:NativeMethodAccessorImpl\.java|<unknown>):0")


def stable_ids(plan: str) -> str:
    """Renumber each kind of session-global id from 1, in order of
    first appearance in `plan`, and fix the reflective call-site frame."""
    seen: dict[str, dict[str, int]] = {}

    def renumber(m: re.Match) -> str:
        # lambda variables share one counter, as in Spark
        ids = seen.setdefault(m.group(1).split(" ")[0], {})
        return m.group(1) + str(ids.setdefault(m.group(2), len(ids) + 1))

    return _REFLECTIVE_FRAME.sub("<py4j>", _SESSION_ID.sub(renumber, plan))


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (SparkSession.builder.master("local[4]")
             .appName("dump-explain")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def plan(df) -> str:
        return stable_ids(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))

    out = ["# EXPLAIN — physical plans of headline queries",
           "",
           "Generated by `scripts/dump_explain.py` at sf0.001; the",
           "load-bearing properties (broadcast joins, partial",
           "aggregates, pushed filters, pruned scans, shuffle-free",
           "annotate) are asserted in `tests/test_plan_hygiene.py`.",
           ""]
    qs = entry.queries()
    for name in SHOW:
        df = qs[name](spark, "/root/testdata/sf0.001")
        out += [f"## {name}", "", "```", plan(df).rstrip(), "```", ""]

    from python_mecab_ner_spark.operators.annotate import annotate_pages
    from python_mecab_ner_spark.sources.corpus import pages_dataframe
    from python_mecab_ner_spark.sources.gazetteer import broadcast_rows
    ann = annotate_pages(pages_dataframe(spark, 10), broadcast_rows(spark))
    out += ["## annotate stage (pages -> tokens/mentions/triples)", "",
            "```", plan(ann).rstrip(), "```", ""]

    (REPO / "EXPLAIN.md").write_text("\n".join(out))
    print("wrote EXPLAIN.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
