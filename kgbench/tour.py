"""The traced layer tour: per-layer metrics for any workload.

Run after the untraced measurement, in the same session (which then has
the Spark event log on).  Every layer is called once under a span and a
job group of its name, with its output forced (written, counted or
locally checkpointed) so Spark's lazy plans charge time to the layer
that caused it.  The workload's own corpus feeds the sources, annotate
and (for build) the build legs; the build and streaming legs a workload
does not exercise run at their own benchmark sizes, so every traced run
reports every layer.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from harness import WORK_DIR, cached_corpus, data_files, dir_bytes, median, slots
from tracing import Tracer, merge_groups, task_skew
from workloads import (Ingest, Stream, annotate_counts, graph_problems,
                       link_histogram, stored_problem)


def kernel_bench(seed: int, n_docs: int, reps: int = 3) -> dict:
    """Single-process timed kernel calls on a fixed doc sample (the
    first n_docs pages of the seed), median of `reps` passes."""
    from python_mecab_ner_spark.kernel.lexicon import (default_lexicon,
                                                        load_gazetteer_rows)
    from python_mecab_ner_spark.kernel.matcher import (CompiledGazetteer,
                                                        find_mentions,
                                                        infer_extend,
                                                        ner_spans)
    from python_mecab_ner_spark.kernel.tokenizer import tokenize
    from python_mecab_ner_spark.kernel.triples import extract_triples
    from python_mecab_ner_spark.sources.corpus import gen_pages

    texts = [p["text"] for p in gen_pages(n_docs, seed)]
    rows = load_gazetteer_rows()
    lex = default_lexicon()
    builds, tok_s, match_s, tri_s = [], [], [], []
    n_tokens = n_mentions = 0
    for _ in range(reps):
        t0 = time.perf_counter()
        gaz = CompiledGazetteer(rows)
        builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        toks = [tokenize(t, lex) for t in texts]
        t1 = time.perf_counter()
        spans, n_mentions = [], 0
        for tk in toks:
            raw = infer_extend(find_mentions(tk, gaz), tk) if tk else []
            spans.append(ner_spans(tk, raw) if tk else [])
            n_mentions += len(raw)
        t2 = time.perf_counter()
        for tk, sp in zip(toks, spans):
            extract_triples(tk, sp)
        t3 = time.perf_counter()
        tok_s.append(t1 - t0)
        match_s.append(t2 - t1)
        tri_s.append(t3 - t2)
        n_tokens = sum(len(t) for t in toks)
    return {
        "kernel.tokenize_us_per_doc": median(tok_s) / n_docs * 1e6,
        "kernel.match_us_per_doc": median(match_s) / n_docs * 1e6,
        "kernel.triples_us_per_doc": median(tri_s) / n_docs * 1e6,
        "kernel.gazetteer_build_ms": median(builds) * 1e3,
        "kernel.tokens_per_doc": n_tokens / n_docs,
        "kernel.mentions_per_doc": n_mentions / n_docs,
    }


def traced_build(spark, tr: Tracer, pages, out: Path) -> dict:
    """run_pipeline's steps, one public call per span, each output
    forced.  Returns the pipeline info plus the linking counts."""
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.annotate import (annotate_pages,
                                                           mentions_table,
                                                           spans_table,
                                                           tokens_table,
                                                           triples_table)
    from python_mecab_ner_spark.operators.canonicalize import (alias_pairs,
                                                               canonical_map)
    from python_mecab_ner_spark.operators.graph import (build_edges,
                                                        build_vertices,
                                                        materialize_graph)
    from python_mecab_ner_spark.operators.linking import (build_stats,
                                                          canonical_entities,
                                                          link_mentions)
    from python_mecab_ner_spark.operators.weblinks import (
        host_graph, inbound_anchor_profile)
    from python_mecab_ner_spark.plans.lineage import run_stage
    from python_mecab_ner_spark.plans.pipeline import _training_mentions
    from python_mecab_ner_spark.sources.gazetteer import (
        broadcast_rows, gazetteer_df_from_tsv)

    with tr.span("build"):
        gaz_df = gazetteer_df_from_tsv(spark)
        bc = broadcast_rows(spark, df=gaz_df)
        with tr.span("lineage"):
            annotated = run_stage(
                spark, "annotate", pages,
                lambda p: annotate_pages(
                    p.select("url", "warc_ts", "text", "lang"), bc,
                    with_tokens="context"),
                str(out), key_col="url", n_parts=slots())
        with tr.span("linking"):
            entities = canonical_entities(gaz_df)
            context = tokens_table(annotated)
            with tr.span("linking.stats"):
                nstats, cstats = build_stats(
                    context, _training_mentions(mentions_table(annotated)))
                nstats.count()
                cstats.count()
            with tr.span("linking.link"):
                linked = link_mentions(
                    spans_table(annotated).withColumnRenamed("word",
                                                             "surface"),
                    entities, context_df=context, neighbor_stats_df=nstats,
                    core_stats_df=cstats).localCheckpoint(eager=True)
        with tr.span("canonicalize"):
            canonical = canonical_map(entities).localCheckpoint(eager=True)
        with tr.span("graph"):
            with tr.span("graph.edges_vertices"):
                vertices = build_vertices(
                    linked, entities, canonical,
                    label_universe=gaz_df.select("large")
                ).localCheckpoint(eager=True)
                edges = build_edges(triples_table(annotated), linked,
                                    canonical).localCheckpoint(eager=True)
            with tr.span("graph.materialize"):
                info = materialize_graph(edges, vertices, str(out))
        with tr.span("weblinks"):
            (host_graph(pages).repartition(1)
             .write.mode("overwrite").parquet(f"{out}/hosts"))
            (inbound_anchor_profile(pages).repartition(1)
             .write.mode("overwrite").parquet(f"{out}/anchors"))
        info["annotated_rows"] = annotated.count()
    with tr.span("counts"):
        info["histogram"] = link_histogram(linked)
        info["candidate_pairs"] = alias_pairs(entities,
                                              jaccard_min=0.0).count()
        info["kept_pairs"] = alias_pairs(entities).count()
        info["linked_spans"] = linked.where(
            F.col("entity_id").isNotNull()).count()
    return info


def bucket_skew(edges_dir: Path) -> float:
    """max / median bytes over the edge table's bucket directories."""
    sizes = sorted(dir_bytes(d)[0] for d in edges_dir.iterdir()
                   if d.is_dir() and d.name.startswith("bucket="))
    if not sizes:
        return 1.0
    return sizes[-1] / median(sizes)


def run_tour(spark, wl, seed: int, seconds: float, sizes,
             untraced: dict) -> tuple[Tracer, dict, dict, dict]:
    """Returns (tracer, per-layer metrics without the event-log ones,
    streaming query run id -> layer alias, inputs of the event-log
    metrics)."""
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.annotate import annotate_pages
    from python_mecab_ner_spark.sources.gazetteer import (
        broadcast_rows, gazetteer_df_from_tsv)

    tr = Tracer(spark)
    m: dict = {}
    work = WORK_DIR / "tour"
    shutil.rmtree(work, ignore_errors=True)  # run_stage would resume from it
    corpus = wl.path
    with tr.span("sources"):
        with tr.span("sources.scan"):
            pages = spark.read.parquet(str(corpus))
            n_docs = pages.select(F.count("*"), F.bit_xor(
                F.xxhash64(*pages.columns))).collect()[0][0]
        with tr.span("sources.broadcast"):
            bc = broadcast_rows(spark, df=gazetteer_df_from_tsv(spark))
    m["sources.input_bytes"] = float(dir_bytes(corpus)[0])
    m["sources.scan_s"] = tr.total("sources.scan")
    m["sources.broadcast_s"] = tr.total("sources.broadcast")

    with tr.span("kernel"):
        m.update(kernel_bench(seed, sizes.kernel_docs))

    # the extract unit itself (same aggregate as the untraced pass), then
    # a separate leg that writes the annotated rows for their size
    with tr.span("annotate"):
        annotate_counts(spark, corpus, bc)
    with tr.span("annotate.write"):
        annotate_pages(pages, bc).write.mode("overwrite").parquet(
            str(work / "annotated"))
    m["annotate.stage_s"] = tr.total("annotate")
    kernel_us = (m["kernel.tokenize_us_per_doc"] + m["kernel.match_us_per_doc"]
                 + m["kernel.triples_us_per_doc"])

    # build leg: the workload's own corpus on build, else the build size
    if wl.name == "build":
        bpath = corpus
    else:
        bpath, _ = cached_corpus(spark, "pages", seed, sizes.build_docs,
                                 slots())
    bpages = spark.read.parquet(str(bpath))
    bout = work / "build"
    info = traced_build(spark, tr, bpages, bout)
    probs, _shape = graph_problems(spark, bout, info, bpages.count())
    hp = stored_problem(bpath, "linkhist", info["histogram"])
    wl.attempted += 1
    for p in probs + ([hp] if hp else []):
        wl.fail(f"traced build: {p}")
    hist = info["histogram"]
    n_spans = sum(hist.values())
    for lvl in range(6):
        m[f"linking.level{lvl}_n"] = float(hist.get(str(lvl), 0))
    m["linking.linked_ratio"] = info["linked_spans"] / n_spans
    m["linking.stats_s"] = tr.total("linking.stats")
    m["linking.link_s"] = tr.total("linking.link")
    m["lineage.checkpoint_write_s"] = tr.total("lineage")
    m["lineage.bytes_written_per_input_byte"] = (
        dir_bytes(bout / "annotate" / "data")[0] / dir_bytes(bpath)[0])
    m["canonicalize.s"] = tr.total("canonicalize")
    m["canonicalize.candidate_pairs"] = float(info["candidate_pairs"])
    m["canonicalize.kept_ratio"] = (info["kept_pairs"]
                                    / max(1, info["candidate_pairs"]))
    m["graph.edges_vertices_s"] = tr.total("graph.edges_vertices")
    m["graph.materialize_s"] = tr.total("graph.materialize")
    eb, ef = dir_bytes(bout / "edges")
    vb, vf = dir_bytes(bout / "vertices")
    m["graph.bytes_written"] = float(eb + vb)
    m["graph.files_written"] = float(ef + vf)
    m["graph.head_keys"] = float(info["n_head_keys"])
    m["graph.edge_partition_skew"] = bucket_skew(bout / "edges")

    # streaming leg: the workload's own files on ingest, else a short run
    if wl.name == "ingest":
        ing, secs = wl, seconds
        ing.stream = Stream(spark, data_files(wl.path), wl.work / "traced")
    else:
        ing = Ingest(spark, seed, sizes.companion_ingest_s, sizes)
        ing.prepare()
        ing.materialize()
        secs = sizes.companion_ingest_s
    ing.bc = bc
    with tr.span("streaming"):
        with tr.span("streaming.warmup"):
            ing.warmup()
        s_metrics = ing.measure(seconds=secs)
    st, names, prog, late, done = ing.measured
    run_ids = {str(st.query.runId): "streaming"}
    ing.check()
    if ing is not wl:
        wl.attempted += ing.attempted
        wl.failed += ing.failed
        wl.problems += ing.problems
    dur = [p["durationMs"] for p in prog]
    trig = sum(d.get("triggerExecution", 0) for d in dur)
    m["streaming.batches"] = float(len(prog))
    m["streaming.batch_p50_ms"] = median(
        [d.get("triggerExecution", 0) for d in dur])
    m["streaming.add_batch_share"] = (sum(d.get("addBatch", 0) for d in dur)
                                      / max(1, trig))
    # means: these phases last a few whole milliseconds each
    m["streaming.wal_commit_ms"] = sum(
        d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / len(dur)
    m["streaming.query_planning_ms"] = sum(
        d.get("queryPlanning", 0) for d in dur) / len(dur)
    m["streaming.backlog_files"] = float(max_backlog(st, names, done))
    m["streaming.generator_late_ms"] = max(late) * 1e3

    # tracing overhead: the traced form of the workload's unit of work
    # (each layer forced, job groups set) minus its untraced wall
    if wl.name == "extract":
        traced_unit = tr.total("annotate")
    elif wl.name == "build":
        traced_unit = tr.total("build")
    else:
        traced_unit = s_metrics["wall_s"]
    m["trace.overhead_s"] = traced_unit - untraced["wall_s"]
    aux = {"annotate_docs": n_docs, "kernel_us_per_doc": kernel_us,
           "tour_groups": sorted({sp["name"] for sp in tr.spans})}
    return tr, m, run_ids, aux


def max_backlog(st: Stream, names, done) -> int:
    """Most files dropped but not yet committed, seen at any drop."""
    commits = sorted(done[n][1] for n in names if n in done)
    worst = 0
    for i, n in enumerate(names):
        at = st.drops[n][1]
        committed = sum(1 for c in commits if c <= at)
        worst = max(worst, i + 1 - committed)
    return worst


def event_log_metrics(groups: dict, aux: dict) -> dict:
    """Per-layer metrics that come from the event log."""
    out = {}
    ann = merge_groups(groups, ["annotate"])
    out["annotate.executor_cpu_s"] = ann["cpu_s"]
    out["annotate.overhead_s"] = (ann["run_s"] - aux["kernel_us_per_doc"]
                                  * aux["annotate_docs"] / 1e6)
    out["annotate.output_bytes"] = float(
        merge_groups(groups, ["annotate.write"])["output_bytes"])
    link = merge_groups(groups, ["linking", "linking.stats", "linking.link"])
    out["linking.shuffle_bytes"] = float(link["shuffle_write_bytes"])
    out["linking.spill_bytes"] = float(link["spill_bytes"])
    out["linking.task_skew"] = task_skew(link)
    # only the tour's own groups (the streaming leg's query aliased to
    # "streaming"), not the untraced measurement's jobs
    out["spark.gc_s"] = merge_groups(groups, aux["tour_groups"])["gc_s"]
    return out


SELF_LAYERS = ("sources", "kernel", "annotate", "lineage", "linking",
               "canonicalize", "graph", "streaming")


def self_time_metrics(tr: Tracer) -> dict:
    """Self time per layer: the layer's spans and its dotted sub-spans
    (e.g. linking.stats under linking), minus time in other layers."""
    st = tr.self_times()
    return {f"self.{layer}_s": sum(v for k, v in st.items()
                                   if k == layer or k.startswith(layer + "."))
            for layer in SELF_LAYERS}
