"""End-to-end KG-construction pipeline (SURVEY.md §7.1).

pages -> [annotate: tokenize + mention + span + triple, ONE narrow
stage] -> link spans to canonical entities (broadcast ladder) ->
canonicalize alias clusters (LSH + CC) -> materialize salted graph.

Both entry points share one wiring after annotate (_build_graph):
extract_graph() persists the annotate stage and returns the lazily
planned graph; run_pipeline() checkpoints it per part_key with
lineage + resume (plans.lineage), writes the salted graph and
releases every working set the build pinned before it returns.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.annotate import (annotate_pages, mentions_table,
                                  spans_table, tokens_table, triples_table)
from ..operators.canonicalize import canonical_map
from ..operators.graph import build_edges, build_vertices, materialize_graph
from ..operators.linking import (build_stats, canonical_entities,
                                 link_mentions)
from ..sources.gazetteer import broadcast_rows, gazetteer_df_from_tsv


def _training_mentions(mentions):
    """The learned-statistics training signal: gazetteer mentions whose
    span carries exactly ONE large category (ambiguous spans are the
    ones being disambiguated — excluding them keeps the counters
    uncontaminated, mirroring the reference training on gold labels)."""
    unambig = (mentions.groupBy("url", "start", "end")
               .agg(F.countDistinct("large").alias("_n"))
               .where("_n = 1").select("url", "start", "end"))
    return mentions.join(unambig, ["url", "start", "end"], "left_semi")


def _annotate(pages_df, bc):
    # "context": the slim 4-field token struct — every consumer of the
    # graph's context table (stats builds, scoring, BIO) reads only
    # (word, pos, begin, end); the full struct is ~3x the cache/Arrow
    # payload.  Surface-restoring paths (posseq) re-tokenize via
    # annotate.tokenize_pages from g["pages"] instead.
    return annotate_pages(pages_df.select("url", "warc_ts", "text", "lang"),
                          bc, with_tokens="context")


def _build_graph(annotated, gaz_df, canonicalize=True,
                 kb_holdout_mod=None) -> dict:
    """Everything after annotate, over an already-materialized
    `annotated` frame: the lazily planned graph dict plus its
    `release` hook."""
    mentions = mentions_table(annotated)
    spans = spans_table(annotated)
    triples = triples_table(annotated)

    entities = canonical_entities(gaz_df)
    if kb_holdout_mod:
        from ..functions.hashing import md5_int
        entities = entities.where(
            F.pmod(md5_int(F.col("surface")), F.lit(kb_holdout_mod)) != 0)
    # context feeds 5 scoring/stats passes; persist the exploded
    # token table once instead of re-exploding per pass
    context = tokens_table(annotated).persist()
    train = _training_mentions(mentions)
    # ONE fused mention-context join builds both counters; the
    # vocab-sized combined aggregate is persisted inside
    nstats, cstats = build_stats(context, train)
    # link the resolved NER spans (the final entities of a page);
    # the spans' word column is the mention surface for linking
    linked = link_mentions(
        spans.withColumnRenamed("word", "surface"), entities,
        context_df=context, neighbor_stats_df=nstats,
        core_stats_df=cstats)

    canonical = canonical_map(entities) if canonicalize else None
    # label universe = the DETECTOR-side gazetteer larges (brute
    # labels come from full-gazetteer stats, not the possibly
    # holdout-filtered KB)
    vertices = build_vertices(linked, entities, canonical,
                              label_universe=gaz_df.select("large"))
    edges = build_edges(triples, linked, canonical)

    def release():
        """Unpersist every working set this graph pinned in the SQL
        CacheManager (annotate stage, exploded context, the fused
        stats aggregate, the linking candidate/remainder tables).
        Call when done with the graph — a long session building many
        graphs otherwise accumulates pinned cache entries.  Idempotent;
        the DataFrames remain usable (they just recompute)."""
        for hook in (linked.unpersist_working_set, nstats.unpersist_input,
                     context.unpersist, annotated.unpersist):
            try:
                hook()
            except Exception:
                pass

    return {
        "annotated": annotated, "mentions": mentions, "spans": spans,
        "triples": triples, "entities": entities, "linked": linked,
        "context": context, "neighbor_stats": nstats, "core_stats": cstats,
        "canonical": canonical, "vertices": vertices, "edges": edges,
        "release": release,
    }


def extract_graph(spark, pages_df, canonicalize=True, kb_holdout_mod=None):
    """Returns a dict of lazily-planned DataFrames:
    annotated, mentions, spans, triples, entities, linked, context,
    neighbor_stats, core_stats, vertices, edges (+ canonical when
    canonicalize=True), pages, and release().

    Linking runs the full 6-level ladder: the corpus' own unambiguous
    gazetteer mentions train the +-3-neighbor and core counters (one
    groupBy job each, broadcast), which then power levels 3/4 and
    in-window homonym disambiguation.

    kb_holdout_mod=N deterministically drops aliases with
    pmod(md5(surface), N) == 0 from the CANONICAL entity KB (mention
    detection still sees the full gazetteer).  This models the
    KB-coverage gap every real KG build has — surfaces the detector
    finds but the canonical KB lacks — which is exactly the situation
    the reference's PART/BRUTE inference levels exist for (reference
    mecab_category_storage.py:534-595)."""
    gaz_df = gazetteer_df_from_tsv(spark)
    annotated = _annotate(pages_df, broadcast_rows(spark, df=gaz_df))
    # the annotate stage feeds ~10 downstream subplans (stats builds,
    # context joins, level-3/4 scoring, spans, triples); without
    # materialization each one re-executes the whole tokenize+match
    # mapInArrow.  Lazy-plan variant: persist (memory+disk);
    # run_pipeline checkpoints it to Parquet.
    from pyspark import StorageLevel
    annotated = annotated.persist(StorageLevel.MEMORY_AND_DISK)
    g = _build_graph(annotated, gaz_df, canonicalize=canonicalize,
                     kb_holdout_mod=kb_holdout_mod)
    g["pages"] = pages_df
    return g


def run_pipeline(spark, pages_df, out_dir: str, n_parts: int = 32,
                 canonicalize: bool = True,
                 wave_parts: int | None = None,
                 refresh: bool = False) -> dict:
    """Execute with lineage + resume: the annotate stage (the heavy
    scan) is checkpointed per part_key; downstream relational stages
    re-derive from the persisted annotation (cheap relative to the
    scan), the graph is written salted, and every working set the
    build pinned is released before returning."""
    from .lineage import run_stage

    gaz_df = gazetteer_df_from_tsv(spark)
    bc = broadcast_rows(spark, df=gaz_df)
    annotated = run_stage(spark, "annotate", pages_df,
                          lambda part: _annotate(part, bc),
                          out_dir, key_col="url", n_parts=n_parts,
                          wave_parts=wave_parts, refresh=refresh)
    g = _build_graph(annotated, gaz_df, canonicalize=canonicalize)
    try:
        info = materialize_graph(g["edges"], g["vertices"], out_dir)
        if "html" in pages_df.columns:
            # web-graph side tables (host link graph + inbound anchor-text
            # profiles): host-dimension-sized aggregates off a second
            # narrow scan of the raw pages — cheap next to annotate, and
            # the crawl-prioritization consumers read THESE, not pages
            from ..operators.weblinks import (host_graph,
                                              inbound_anchor_profile)
            (host_graph(pages_df).repartition(1)
             .write.mode("overwrite").parquet(f"{out_dir}/hosts"))
            (inbound_anchor_profile(pages_df).repartition(1)
             .write.mode("overwrite").parquet(f"{out_dir}/anchors"))
            info["hosts"] = f"{out_dir}/hosts"
            info["anchors"] = f"{out_dir}/anchors"
        info["annotated_rows"] = annotated.count()
    finally:
        g["release"]()
    return info
