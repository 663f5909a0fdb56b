"""Temporal KG maintenance over versioned edge tables.

A web KG is rebuilt per crawl; the snapshot layer
(sources.catalog.snapshot_write) gives each crawl an integer version.
Stacking those snapshots as one (version, edge-key) table yields the
temporal dimension every KG-maintenance job needs: when did an edge
first appear, is it still asserted, did it flap (disappear and come
back — the classic sign of template churn or extraction instability
rather than real-world change).

``edge_lifespan`` is SCD2 boiled down to what a triple store needs:
one combinable groupBy over the edge key plus a 1-row broadcast
total — no windows, no per-version shuffle, skew follows the edge-key
distribution (url-leading keys, the same skew-immune layout the link
job uses).

This generalizes the reference's one-shot in-memory extraction
(python_mecab_ner/main.py:125-190 re-runs from scratch each
invocation, no notion of a prior run) to the continuous-crawl setting
the north rule targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edge_lifespan(edges: DataFrame, key_cols: list,
                  version_col: str = "version",
                  current_version: int | None = None) -> DataFrame:
    """Per edge key: ``first_seen`` / ``last_seen`` version,
    ``n_versions`` (distinct versions asserting the edge),
    ``n_gaps`` = (last_seen - first_seen + 1) - n_versions (versions
    inside the lifespan that did NOT assert the edge — resurrection
    count; assumes versions are consecutive integers, which the
    snapshot manifest guarantees), and ``is_current`` (1 iff asserted
    by ``current_version``, default the max version in the table —
    computed as a 1-row broadcast total so the plan stays a single
    edge-key aggregate).

    Input may contain duplicate (version, key) rows (one per witness
    page); they collapse in the aggregate via countDistinct.
    """
    v = F.col(version_col)
    per_key = (edges.groupBy(*key_cols)
               .agg(F.min(v).cast("bigint").alias("first_seen"),
                    F.max(v).cast("bigint").alias("last_seen"),
                    F.countDistinct(v).cast("bigint")
                    .alias("n_versions")))
    if current_version is None:
        cur = edges.agg(F.max(v).cast("bigint").alias("_cur"))
        per_key = per_key.crossJoin(F.broadcast(cur))
    else:
        per_key = per_key.withColumn(
            "_cur", F.lit(int(current_version)).cast("bigint"))
    return (per_key.select(
        *key_cols, "first_seen", "last_seen", "n_versions",
        (F.col("last_seen") - F.col("first_seen") + 1
         - F.col("n_versions")).cast("bigint").alias("n_gaps"),
        F.when(F.col("last_seen") == F.col("_cur"), 1).otherwise(0)
        .cast("int").alias("is_current")))


def lifespan_of_snapshots(spark, base: str, key_cols: list) -> DataFrame:
    """Convenience: stack every committed snapshot under ``base``
    (sources.catalog layout) into one versioned edge table and run
    ``edge_lifespan`` against the latest committed version.  Reads
    are manifest-driven, so orphan v-dirs from crashed commits are
    invisible here exactly as they are to ``read_snapshot``."""
    from python_mecab_ner_spark.sources.catalog import (read_snapshot,
                                                        snapshot_versions)
    versions = snapshot_versions(spark, base)
    if not versions:
        raise FileNotFoundError(f"no snapshots under {base}")
    stacked = None
    for ver in versions:
        part = (read_snapshot(spark, base, ver).select(*key_cols)
                .withColumn("version", F.lit(ver)))
        stacked = part if stacked is None else stacked.unionByName(part)
    return edge_lifespan(stacked, key_cols,
                         current_version=max(versions))


def temporal_reachability(edges: DataFrame, seeds: DataFrame,
                          src: str = "src", dst: str = "dst",
                          t: str = "t", node: str = "node",
                          max_rounds: int = 20) -> DataFrame:
    """Time-respecting reachability with minimum arrival time: a
    node is reached at time t' if a path exists whose contact times
    never decrease — the semantics of influence/contagion over a
    temporal contact graph (who COULD have received a fact from the
    seeds, in causal order), and the temporal complement of a
    shortest-path distance (there cost accumulates; here time must
    flow forward).  An edge is usable only from arrival
    onward:  arr(v) = min over edges (u, v, t) with t >= arr(u) of
    t,  seeds at 0.

    Edges must keep EVERY contact time (a later contact is usable
    when an earlier one is not — collapsing to min t per pair is
    wrong and tested); pass symmetrized rows for undirected
    contact.  Per round one join + one combinable min, monotone
    non-increasing, localCheckpoint'ed (iterative house rule);
    rounds needed = longest time-respecting path in HOPS, raises at
    the budget (the SSSP discipline — truncation silently
    understates reach).  The oracle unrolls the same recurrence;
    post-fixpoint rounds are no-ops under a shared budget.

    Returns (node, arrival) for reached nodes (seeds at 0)."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                      F.col(t).cast("bigint").alias("t"))
         .where(F.col("src") != F.col("dst"))
         .distinct()
         .localCheckpoint(eager=True))
    arr = (seeds.select(F.col(node).alias("node"))
           .distinct()
           .select("node", F.lit(0).cast("bigint").alias("arr"))
           .localCheckpoint(eager=True))
    for _ in range(max_rounds):
        relax = (arr.join(e.withColumnRenamed("src", "node"), "node")
                 .where(F.col("arr") <= F.col("t"))
                 .select(F.col("dst").alias("node"),
                         F.col("t").alias("arr")))
        nxt = (arr.unionByName(relax)
               .groupBy("node").agg(F.min("arr").alias("arr"))
               .localCheckpoint(eager=True))
        changed = (nxt.join(arr.withColumnRenamed("arr", "old"),
                            "node", "left")
                   .where(F.col("old").isNull()
                          | (F.col("arr") < F.col("old")))
                   .limit(1).count())
        arr = nxt
        if changed == 0:
            return arr.select("node", F.col("arr").alias("arrival"))
    raise RuntimeError(
        "temporal_reachability: arrivals still improving after "
        "max_rounds — raise max_rounds (longest time-respecting "
        "path exceeds the budget)")
