"""Graph materialization: vertices + edges with explicit skew handling.

Head entities (country names etc. appearing in a large fraction of
documents) make the edge table skewed on src_id.  The salting decision
is COMPUTED, not guessed (SURVEY.md §7.3): a frequency pass counts
edges per src_id; keys above `head_threshold` x mean get a salt column
pmod(md5(url), n_salt) so downstream repartition/write spreads each hot
key over n_salt tasks.  AQE skew-join splitting stays on as the second
line of defense.  materialize_graph writes partitioned Parquet.

The rest of the module holds the iterative graph operators the queries
of `__spark_entry__.py` run (PageRank/PPR, k-hop, k-truss, components,
SCC, MIS, matching, betweenness, MST, densest peel, ...), each
value-checked against a DuckDB oracle.
"""

from __future__ import annotations

import numbers

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int


def build_vertices(linked_mentions: DataFrame, entities_df: DataFrame,
                   canonical: DataFrame | None = None,
                   label_universe: DataFrame | None = None) -> DataFrame:
    """(entity_id, canonical, large, small) for every linked entity.
    Level-4 (BRUTE) links target label pseudo-entities — those become
    type-level vertices (canonical = the label, small = '*') so no
    edge dangles.

    label_universe: one-column (large) DataFrame of every label the
    brute level can PREDICT.  Defaults to entities_df's larges, but
    when the KB is a filtered subset of the mention detector (the
    kb_holdout case) callers must pass the detector-side larges —
    brute labels come from the full-gazetteer stats, and a label whose
    every alias is held out would otherwise have no vertex row."""
    from ..operators.linking import label_entity_id
    dict_v = (linked_mentions.where(F.col("entity_id").isNotNull()
                                    & (F.col("link_level") < 4))
              .select("entity_id").distinct()
              .join(F.broadcast(entities_df.select(
                  "entity_id", F.col("surface").alias("canonical"),
                  "large", "small")), "entity_id", "inner"))
    # label pseudo-ids -> (label) via the tiny label-id dimension
    # (entity_id encodes the PREDICTED label, which can differ from
    # the mention's own large)
    lu = label_universe if label_universe is not None \
        else entities_df.select("large")
    label_dim = (lu.select(F.col("large").alias("canonical"))
                 .distinct()
                 .select(label_entity_id(F.col("canonical")).alias("entity_id"),
                         "canonical", F.col("canonical").alias("large"),
                         F.lit("*").alias("small")))
    label_v = (linked_mentions.where(F.col("link_level") == 4)
               .select("entity_id").distinct()
               .join(F.broadcast(label_dim), "entity_id", "inner"))
    v = dict_v.unionByName(label_v)
    if canonical is not None:
        v = (v.join(F.broadcast(canonical), "entity_id", "left")
             .withColumn("canonical_id",
                         F.coalesce("canonical_id", "entity_id")))
    else:
        v = v.withColumn("canonical_id", F.col("entity_id"))
    return v


def build_edges(triples_df: DataFrame, linked_mentions: DataFrame,
                canonical: DataFrame | None = None) -> DataFrame:
    """triples (url, subj spans, obj spans) x linked mentions ->
    (src_id, dst_id, pred, url, warc_ts, conf).

    Joins on (url, span start) — both sides are corpus-sized, so this
    is a shuffled hash join on a high-cardinality composite key.
    """
    lm = linked_mentions.select(
        "url", F.col("start").alias("m_start"),
        F.col("entity_id"))
    subj = lm.select("url", F.col("m_start").alias("subj_start"),
                     F.col("entity_id").alias("src_id"))
    obj = lm.select("url", F.col("m_start").alias("obj_start"),
                    F.col("entity_id").alias("dst_id"))
    e = (triples_df
         .join(subj, ["url", "subj_start"], "inner")
         .join(obj, ["url", "obj_start"], "inner")
         .where(F.col("src_id").isNotNull() & F.col("dst_id").isNotNull()))
    if canonical is not None:
        c = F.broadcast(canonical)
        e = (e.join(c.withColumnRenamed("entity_id", "src_id")
                    .withColumnRenamed("canonical_id", "src_canon"), "src_id", "left")
             .join(c.withColumnRenamed("entity_id", "dst_id")
                   .withColumnRenamed("canonical_id", "dst_canon"), "dst_id", "left")
             .withColumn("src_id", F.coalesce("src_canon", "src_id"))
             .withColumn("dst_id", F.coalesce("dst_canon", "dst_id"))
             .drop("src_canon", "dst_canon"))
    return e.select("src_id", "dst_id", "pred", "url", "warc_ts", "conf")


def detect_head_keys(edges: DataFrame, key: str = "src_id",
                     head_threshold: float = 8.0) -> DataFrame:
    """Keys whose edge count exceeds head_threshold x the mean count.
    One aggregate over the edge table; the result is a tiny dimension
    that gets broadcast into add_salt."""
    counts = edges.groupBy(key).agg(F.count("*").alias("cnt"))
    mean = counts.agg(F.avg("cnt").alias("mean_cnt"))
    return (counts.crossJoin(F.broadcast(mean))
            .where(F.col("cnt") >= F.col("mean_cnt") * head_threshold)
            .select(key, "cnt"))


def add_salt(edges: DataFrame, head_keys: DataFrame, key: str = "src_id",
             n_salt: int = 16) -> DataFrame:
    """salt = pmod(md5(url), n_salt) for head keys, 0 otherwise.  The
    (key, salt) composite spreads each hot key over n_salt partitions
    while cold keys stay single-partition."""
    heads = F.broadcast(head_keys.select(key).withColumn("_is_head", F.lit(True)))
    return (edges.join(heads, key, "left")
            .withColumn("salt",
                        F.when(F.col("_is_head"),
                               F.pmod(md5_int(F.col("url")), F.lit(n_salt)))
                        .otherwise(F.lit(0)).cast("int"))
            .drop("_is_head"))


def pagerank_int(edges: DataFrame, iters: int = 3,
                 scale: int = 1_000_000, damping_num: int = 85,
                 damping_den: int = 100,
                 src: str = "src", dst: str = "dst",
                 init: DataFrame | None = None) -> DataFrame:
    """Integer fixed-point PageRank over (src, dst) edges:

        pr0(v)  = scale
        pr'(v)  = (1-d)*scale + (d_num * sum_{u->v} (pr(u) div od(u)))
                  div d_den

    ALL arithmetic is 64-bit integer (div = floor division), so the
    result is bit-exact across engines regardless of summation order —
    float PageRank can never hash-match a SQL oracle, quantized
    PageRank always does.  Dangling mass is dropped (documented
    divergence from the normalized formulation; ranking order is
    preserved for the connected case).

    Scale shape: each iteration is one join edges x ranks on the
    high-cardinality src key + one partial-aggregable groupBy on dst;
    at production scale localCheckpoint every few iterations truncates
    the lineage exactly like operators/canonicalize.py (here the
    3-iteration unrolled lazy plan is bounded and cheap).

    ``init`` (optional (node, pr) DataFrame) WARM-STARTS the
    recurrence: nodes present in init start from their stored rank,
    new nodes from `scale` — the incremental-maintenance form for
    recrawls, where a previous snapshot's converged ranks plus ONE
    refresh iteration on the merged graph replace a cold full
    recompute.  Init nodes absent from the new edge set drop out
    (ranks live on the current graph's node set)."""
    base = (scale * (damping_den - damping_num)) // damping_den
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    outdeg = e.groupBy("src").agg(F.count("*").alias("od"))
    if init is None:
        pr = nodes.withColumn("pr", F.lit(scale).cast("bigint"))
    else:
        pr = (nodes.join(init.select("node",
                                     F.col("pr").alias("_ipr")),
                         "node", "left")
              .select("node",
                      F.coalesce(F.col("_ipr"),
                                 F.lit(scale).cast("bigint"))
                      .cast("bigint").alias("pr")))
    for _ in range(iters):
        contrib = (e.join(pr.withColumnRenamed("node", "src"), "src")
                   .join(outdeg, "src")
                   .select(F.col("dst").alias("node"),
                           F.expr("pr div od").alias("c")))
        inmass = contrib.groupBy("node").agg(F.sum("c").alias("m"))
        pr = (nodes.join(inmass, "node", "left")
              .select("node",
                      (F.lit(base)
                       + F.expr(f"({damping_num} * coalesce(m, 0)) "
                                f"div {damping_den}"))
                      .cast("bigint").alias("pr")))
    return pr


def ppr_int(edges: DataFrame, seeds: list, iters: int = 3,
            scale: int = 1_000_000, damping_num: int = 85,
            damping_den: int = 100,
            src: str = "src", dst: str = "dst") -> DataFrame:
    """Personalized PageRank, integer fixed-point (the pagerank_int
    twin with teleport mass restricted to `seeds`):

        pr0(v)  = scale        if v in seeds else 0
        pr'(v)  = [v in seeds] * (1-d)*scale
                  + (d_num * sum_{u->v} (pr(u) div od(u))) div d_den

    The "entities related to X" KG primitive: mass diffuses outward
    from the seed set, so high-PPR nodes are the seed's graph
    neighborhood weighted by connectivity — what an entity-
    recommendation or related-articles query wants, where global
    PageRank just returns the hubs.  All arithmetic 64-bit integer
    (bit-exact cross-engine, same as pagerank_int).

    Scale shape identical to pagerank_int: one join + one partial-agg
    groupBy per iteration; seeds are a literal IN-list (seed sets are
    query-sized).  Callers must localCheckpoint deep edge inputs
    first (the kg_entity_rank lesson)."""
    base = (scale * (damping_den - damping_num)) // damping_den
    # coerce integral seeds (np ints) to plain int; strings pass
    # through unchanged, numeric-looking ones ("123") included
    seed_ids = [int(s) if isinstance(s, numbers.Integral) else s
                for s in seeds]
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    outdeg = e.groupBy("src").agg(F.count("*").alias("od"))
    is_seed = F.col("node").isin(seed_ids)
    pr = nodes.withColumn(
        "pr", F.when(is_seed, F.lit(scale)).otherwise(F.lit(0))
        .cast("bigint"))
    for _ in range(iters):
        contrib = (e.join(pr.withColumnRenamed("node", "src"), "src")
                   .join(outdeg, "src")
                   .select(F.col("dst").alias("node"),
                           F.expr("pr div od").alias("c")))
        inmass = contrib.groupBy("node").agg(F.sum("c").alias("m"))
        pr = (nodes.join(inmass, "node", "left")
              .select("node",
                      (F.when(is_seed, F.lit(base)).otherwise(F.lit(0))
                       + F.expr(f"({damping_num} * coalesce(m, 0)) "
                                f"div {damping_den}"))
                      .cast("bigint").alias("pr")))
    return pr


def materialize_graph(edges: DataFrame, vertices: DataFrame, out_dir: str,
                      n_salt: int = 16, n_buckets: int = 32) -> dict:
    """Salted, bucketed Parquet write of the graph tables.

    Edge layout: partitioned by pmod(src_id, n_buckets) directory key;
    within a partition, data arrives via repartition(src_id, salt) so a
    hot entity's rows spread over n_salt write tasks instead of one.
    """
    heads = detect_head_keys(edges)
    salted = add_salt(edges, heads, n_salt=n_salt)
    salted = salted.withColumn("bucket", F.pmod("src_id", F.lit(n_buckets)).cast("int"))
    (salted.repartition(F.col("src_id"), F.col("salt"))
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(f"{out_dir}/edges"))
    vertices.repartition(4).write.mode("overwrite").parquet(f"{out_dir}/vertices")
    return {"edges": f"{out_dir}/edges", "vertices": f"{out_dir}/vertices",
            "n_head_keys": heads.count()}


def khop_neighbors(edges: DataFrame, k: int = 2,
                   src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct k-hop neighborhood per source node over a directed
    edge list: (node, neighbor) pairs reachable in EXACTLY 1..k hops,
    self excluded — the KG expansion primitive behind "entities within
    two relations of X" queries.

    Scale shape: iterative frontier join (frontier x edges on the
    frontier's far end) + distinct per round — the same
    shuffle-per-iteration pattern as pagerank_int, never an all-pairs
    product.  The frontier is localCheckpoint'ed each round: k
    unrolled joins otherwise replicate the edge-scan subtree 2^k ways
    in the lazy plan (the kg_entity_rank driver-OOM lesson).  Distinct
    per round caps frontier growth at |V|^2 worst case; real KGs stay
    far below it.  At 100 TB bound k (2-3) and pre-bucket edges by
    src so every round's join is co-located."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    reach = e.select(F.col("src").alias("node"),
                     F.col("dst").alias("nbr")).distinct()
    if k > 1:
        reach = reach.localCheckpoint(eager=True)
        frontier = reach
        for _ in range(k - 1):
            step = (frontier.join(
                e.withColumnRenamed("src", "nbr"), "nbr")
                .select("node", F.col("dst").alias("nbr"))
                .where(F.col("nbr") != F.col("node"))
                .distinct())
            frontier = step.join(reach, ["node", "nbr"], "left_anti") \
                .localCheckpoint(eager=True)
            reach = reach.unionByName(frontier)
    return reach.where(F.col("nbr") != F.col("node"))


def khop_counts(edges: DataFrame, k: int = 2,
                src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct k-hop neighborhood SIZE per node — the counting fast
    path of khop_neighbors for when the caller never needs the pair
    set itself (q49's "entities within two relations" cardinality).

    Why a separate operator: khop_neighbors materializes the full
    (node, nbr) reach set with a distinct + anti-join + eager
    localCheckpoint per round — mandatory when the pairs feed a later
    join, but 69x slower than necessary for a count (measured at
    sf0.1: 540 s -> 7.8 s).  Here the candidate stream is never
    globally deduplicated: hop-1 pairs union raw hop-k expansions feed
    ONE groupBy(node).countDistinct(nbr) — Spark's two-phase distinct
    aggregate dedups (node, nbr) map-side BEFORE the only exchange, so
    the shuffle carries ~|distinct pairs| rows once instead of three
    to four times.

    Intermediate frontiers (hops 2..k-1) are still deduplicated and
    localCheckpoint'ed — that bounds join fan-out and plan depth for
    k >= 3; only the LAST hop skips its dedup (the final aggregate
    absorbs it).  Self-loops excluded, exactly as khop_neighbors."""
    ee = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
          .distinct().persist())
    d1 = ee.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    cand = d1
    frontier = d1
    for hop in range(2, k + 1):
        step = (frontier.join(ee.withColumnRenamed("src", "nbr"), "nbr")
                .select("node", F.col("dst").alias("nbr"))
                .where(F.col("nbr") != F.col("node")))
        if hop < k:
            step = step.distinct().localCheckpoint(eager=True)
        cand = cand.unionByName(step)
        frontier = step
    out = (cand.where(F.col("nbr") != F.col("node"))
           .groupBy("node")
           .agg(F.countDistinct("nbr").cast("bigint").alias("n_khop")))
    out.unpersist_input = ee.unpersist
    return out


def neighbor_jaccard(edges: DataFrame, src: str = "src", dst: str = "dst",
                     min_common: int = 2,
                     max_center_degree: int | None = None) -> DataFrame:
    """Structural node similarity over an undirected edge list:
    for every node pair sharing >= min_common neighbors, the Jaccard
    of their neighbor sets in integer parts-per-million — the KG
    link-prediction / entity-merge-candidate primitive ("entities
    related to mostly the same things are probably the same or
    should be linked").

    Columns: (n1, n2, common, jac_ppm) with n1 < n2 and
    jac_ppm = common * 1e6 div (d1 + d2 - common) — pure 64-bit
    integer arithmetic, so the DuckDB oracle hash-matches.

    Scale shape: pairs are generated ONLY through shared neighbors
    (a wedge self-join on the center node), never an all-pairs
    product; per-center fan-out is O(deg^2), which is why
    max_center_degree exists — a hub center (a supplier serving
    every part, a stopword entity) contributes quadratic wedges but
    near-zero similarity signal, so the standard move at 100 TB is
    to drop centers above a degree cap BEFORE the wedge join (the
    documented approximation: common-counts through dropped hubs
    are forgone; degrees stay exact).  The cap must be mirrored in
    any oracle."""
    adj = (edges.select(F.least(F.col(src), F.col(dst)).alias("node"),
                        F.greatest(F.col(src), F.col(dst)).alias("nbr"))
           .where(F.col("node") != F.col("nbr")))
    adj = (adj.unionByName(adj.select(F.col("nbr").alias("node"),
                                      F.col("node").alias("nbr")))
           .distinct())
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))
    centers = adj.select(F.col("nbr").alias("center"),
                         F.col("node").alias("leaf"))
    if max_center_degree is not None:
        ok = (deg.where(F.col("deg") <= max_center_degree)
              .select(F.col("node").alias("center")))
        centers = centers.join(ok, "center", "left_semi")
    a, b = centers.alias("a"), centers.alias("b")
    common = (a.join(b, (F.col("a.center") == F.col("b.center"))
                     & (F.col("a.leaf") < F.col("b.leaf")))
              .groupBy(F.col("a.leaf").alias("n1"),
                       F.col("b.leaf").alias("n2"))
              .agg(F.count("*").alias("common"))
              .where(F.col("common") >= min_common))
    # node-vocabulary dimension: corpus-bounded, broadcast both probes
    d1 = F.broadcast(deg.select(F.col("node").alias("n1"),
                                F.col("deg").alias("d1")))
    d2 = F.broadcast(deg.select(F.col("node").alias("n2"),
                                F.col("deg").alias("d2")))
    return (common.join(d1, "n1").join(d2, "n2")
            .select(F.col("n1").cast("bigint").alias("n1"),
                    F.col("n2").cast("bigint").alias("n2"),
                    F.col("common").cast("bigint").alias("common"),
                    F.floor(F.col("common") * F.lit(1_000_000)
                            / (F.col("d1") + F.col("d2") - F.col("common")))
                    .cast("bigint").alias("jac_ppm")))


def _closed_triangles(e: DataFrame) -> DataFrame:
    """One (x, y, z) row per triangle of a canonical (a < b, distinct)
    edge list — the degree-oriented wedge enumeration behind
    _edge_support / ktruss (each triangle's sides).

    Orients each edge from the (deg, id)-smaller endpoint, builds
    wedges by self-joining on the center, and closes them against the
    canonical edge set; degrees are broadcast (node vocabulary is
    corpus-bounded; swap for a shuffle join beyond it)."""
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    withdeg = (e.join(F.broadcast(deg.withColumnRenamed("node", "a")
                                  .withColumnRenamed("deg", "da")), "a")
               .join(F.broadcast(deg.withColumnRenamed("node", "b")
                                 .withColumnRenamed("deg", "db")), "b"))
    fwd = ((F.col("da") < F.col("db"))
           | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))))
    oriented = withdeg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"))
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = (o1.join(o2, (F.col("o1.lo") == F.col("o2.lo"))
                      & (F.col("o1.hi") < F.col("o2.hi")))
              .select(F.col("o1.lo").alias("x"),
                      F.col("o1.hi").alias("y"),
                      F.col("o2.hi").alias("z")))
    return wedges.join(
        e, (F.least(F.col("y"), F.col("z")) == F.col("a"))
        & (F.greatest(F.col("y"), F.col("z")) == F.col("b"))
    ).select("x", "y", "z")


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-EDGE triangle participation count over a canonical (a < b,
    distinct) edge list: the k-truss peel statistic.  Rides the
    shared _closed_triangles wedge join (orientation bounds wedge
    fan-out per center by the MIN endpoint degree — the power-law
    survival lever); each closed triangle emits its THREE canonical
    edges instead of its three corners.  Do NOT persist the
    oriented/wedge subtrees (a measured dead end:
    they are exchange-identical, ReusedExchange already dedups them
    and InMemoryRelation would block it + AQE stats)."""
    closed = _closed_triangles(e)
    sides = closed.select(
        F.least("x", "y").alias("ea"), F.greatest("x", "y").alias("eb")
    ).unionByName(closed.select(
        F.least("x", "z").alias("ea"), F.greatest("x", "z").alias("eb"))
    ).unionByName(closed.select(
        F.least("y", "z").alias("ea"), F.greatest("y", "z").alias("eb")))
    return (sides.groupBy(F.col("ea").alias("a"), F.col("eb").alias("b"))
            .agg(F.count("*").cast("bigint").alias("support")))


def ktruss(edges: DataFrame, k: int = 4, rounds: int = 3,
           src: str = "src", dst: str = "dst") -> DataFrame:
    """k-truss peel (Cohen 2008): iteratively delete edges whose
    triangle support among REMAINING edges is < k-2; the surviving
    subgraph is the k-truss — a strictly stronger cohesion filter
    than a k-core's degree peel: every edge must sit in k-2
    triangles, so star spam hubs (degree-high, triangle-free) are cut
    where k-core keeps them.  Fixed `rounds` to stay bit-exact
    against the unrolled DuckDB oracle —
    the peel is monotone (edges only leave), so a fixpoint reached
    before round `rounds` just makes later rounds no-ops (asserted at
    the suite graph in tests).

    Scale shape per round: one degree-oriented wedge join (per-center
    fan-out bounded by min endpoint degree) + one combinable per-edge
    count + an edge filter; the surviving edge set is
    localCheckpoint'ed per round (iterative-operator house rule —
    unrolled rounds otherwise replicate the wedge-join plan per
    round and planning alone can OOM the driver).

    Returns surviving (a, b, support) with support recomputed on the
    FINAL surviving set (0 if the last peel left a now-triangle-free
    edge — only possible when rounds stops short of the fixpoint)."""
    assert k >= 3
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct()
         .localCheckpoint(eager=True))
    for _ in range(rounds):
        sup = _edge_support(e)
        e = (e.join(sup, ["a", "b"], "left")
             .where(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
             .select("a", "b")
             .localCheckpoint(eager=True))
    sup = _edge_support(e)
    return (e.join(sup, ["a", "b"], "left")
            .select("a", "b",
                    F.coalesce(F.col("support"), F.lit(0))
                    .cast("bigint").alias("support")))


def pagerank_weighted_int(edges: DataFrame, iters: int = 3,
                          scale: int = 1_000_000, damping_num: int = 85,
                          damping_den: int = 100, src: str = "src",
                          dst: str = "dst",
                          weight: str = "w") -> DataFrame:
    """Weighted integer fixed-point PageRank — mass splits by edge
    weight instead of uniformly over out-edges:

        pr'(v) = (1-d)*scale
                 + (d_num * sum_{u->v} ((pr(u) * w(u,v)) div W(u)))
                   div d_den,   W(u) = total out-weight of u

    The crawl-prioritization form: a host linked 500 times from a hub
    outranks one linked once.  Same 64-bit-integer bit-exactness
    contract as pagerank_int (floor division everywhere, no floats,
    summation-order-independent), same per-iteration shape (one join
    on src + one partial-aggregable groupBy on dst); pr*w stays well
    inside int64 for scale=1e6 and realistic edge weights.  Deep
    inputs must be localCheckpoint'ed by the caller before iterating
    (see kg_entity_rank)."""
    base = (scale * (damping_den - damping_num)) // damping_den
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                     F.col(weight).cast("bigint").alias("w"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    outw = e.groupBy("src").agg(F.sum("w").alias("wt"))
    pr = nodes.withColumn("pr", F.lit(scale).cast("bigint"))
    for _ in range(iters):
        contrib = (e.join(pr.withColumnRenamed("node", "src"), "src")
                   .join(outw, "src")
                   .select(F.col("dst").alias("node"),
                           F.expr("(pr * w) div wt").alias("c")))
        inmass = contrib.groupBy("node").agg(F.sum("c").alias("m"))
        pr = (nodes.join(inmass, "node", "left")
              .select("node",
                      (F.lit(base)
                       + F.expr(f"({damping_num} * coalesce(m, 0)) "
                                f"div {damping_den}"))
                      .cast("bigint").alias("pr")))
    return pr


def label_propagation_int(edges: DataFrame, iters: int = 2,
                          src: str = "src", dst: str = "dst",
                          weight: str | None = None,
                          id_bits: int = 44) -> DataFrame:
    """PRECONDITION: node ids must satisfy 0 <= id < 2^id_bits and
    per-node inbound weight sums < 2^(62 - id_bits) — a wider label
    (e.g. a 60-bit md5 entity id) makes the packed tie-break term
    cross weight-step boundaries and the argmax silently degrades
    toward min-label propagation.  Dense-relabel wide ids first (see
    kg_entity_communities in __spark_entry__.py).

    Synchronous label-propagation community detection, fully
    deterministic: every node starts labeled with its own id; each
    round it adopts the incoming-neighbor label with the highest total
    edge weight, ties broken by SMALLEST label via the packed-integer
    max (weight * 2^id_bits + (2^id_bits-1 - label) — the same
    tie-break encoding as dedup.survivor_selection, so the SQL oracle
    has zero argmax ambiguity).  Callers wanting undirected semantics
    pass symmetrized edges.

    Integer-only arithmetic -> bit-exact cross-engine; synchronous
    updates (not GraphX's async) -> run-order independent, which is
    what makes the unrolled-SQL oracle possible.  Known sync-LPA
    caveat: bipartite structures can oscillate — iters is small and
    fixed, the fixpoint is not awaited.

    Scale shape per iteration: one join edges x labels on src + one
    combinable (node, label) weight sum + one combinable packed max
    per node — the same join/agg silhouette as pagerank_int, so the
    same localCheckpoint-before-iterating contract applies to deep
    inputs."""
    cap = 1 << id_bits
    w = (F.col(weight).cast("bigint") if weight is not None
         else F.lit(1).cast("bigint"))
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                     w.alias("w"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    lab = nodes.withColumn("lab", F.col("node").cast("bigint"))
    for _ in range(iters):
        votes = (e.join(lab.withColumnRenamed("node", "src"), "src")
                 .groupBy(F.col("dst").alias("node"), "lab")
                 .agg(F.sum("w").alias("s")))
        best = (votes
                .select("node",
                        (F.col("s") * F.lit(cap)
                         + (F.lit(cap - 1) - F.col("lab"))).alias("_p"))
                .groupBy("node").agg(F.max("_p").alias("_mx")))
        lab = (lab.join(best, "node", "left")
               .select("node",
                       F.coalesce(
                           F.lit(cap - 1) - F.col("_mx")
                           .bitwiseAND(F.lit(cap - 1)),
                           F.col("lab")).cast("bigint").alias("lab")))
    return lab.select("node", F.col("lab").alias("community"))


def hyperball(edges: DataFrame, iters: int = 2, n_registers: int = 16,
              src: str = "src", dst: str = "dst",
              salt: str = "hb:") -> DataFrame:
    """HyperBall (Boldi/Rosa/Vigna, 2011): per-node HyperLogLog
    sketch of the <= iters-hop OUT-neighborhood (self included),
    computed for EVERY node simultaneously by iterating the HLL
    union along edges — ball(x, t) = ball(x, t-1) U ball(y, t-1) for
    each edge x->y, and HLL union is elementwise register max.  This
    is the 100 TB path where exact k-hop materialization (q49) blows
    up: exact reach is O(sum of ball sizes) rows — quadratic on dense
    graphs — while HyperBall's state is O(nodes x m) integers FOREVER,
    at any radius.  Neighborhood-function / effective-diameter /
    centrality estimation all read off this table.

    Integer contract: registers are HyperLogLog's (md5-int hash,
    bucket = h & (m-1), rho = payload_bits + 1 - bit_length(h >>
    log2 m)); the register TABLE is the oracle artifact, the float
    estimate stays client-side (hll_estimate over a collected row).

    Scale shape per round: one equi-join (edges.dst = regs.node) +
    one map-side-combinable (node, bucket) max — the pagerank_int
    shuffle pattern; regs localCheckpoint'ed per round (unrolled
    iterations otherwise replicate the plan, the kg_entity_rank
    driver-OOM lesson).  Long/sparse register layout: absent
    (node, bucket) rows mean rho 0.

    Returns (node, bucket, max_rho) after `iters` rounds."""
    from ..functions.hashing import md5_int

    shift = int(n_registers).bit_length() - 1
    assert (1 << shift) == n_registers, "n_registers must be 2^k"
    payload_bits = 60 - shift
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct())
    h = md5_int(F.col("node").cast("string"), salt=salt)
    hp = F.shiftright(h, shift)
    bl = F.when(hp > 0,
                F.length(F.conv(hp.cast("string"), 10, 2))) \
        .otherwise(F.lit(0))
    regs = nodes.select(
        "node",
        h.bitwiseAND(F.lit(n_registers - 1)).cast("int").alias("bucket"),
        (F.lit(payload_bits + 1) - bl).cast("int").alias("max_rho"))
    regs = regs.localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (e.join(regs.withColumnRenamed("node", "dst"), "dst")
                   .select(F.col("src").alias("node"), "bucket",
                           "max_rho"))
        regs = (regs.unionByName(contrib)
                .groupBy("node", "bucket")
                .agg(F.max("max_rho").alias("max_rho"))
                .localCheckpoint(eager=True))
    return regs


def hll_estimate(registers: list[int], n_registers: int = 64) -> float:
    """Client-side harmonic-mean estimate (documented formula; floats
    deliberately OUTSIDE the engine).  registers: max_rho per bucket,
    0 for empty buckets."""
    m = n_registers
    alpha = 0.709 if m == 64 else 0.7213 / (1 + 1.079 / m)
    z = sum(2.0 ** -r for r in registers)
    est = alpha * m * m / z
    if est <= 2.5 * m:
        zeros = sum(1 for r in registers if r == 0)
        if zeros:
            import math
            est = m * math.log(m / zeros)
    return est


def connected_components_star(edges: DataFrame, src: str = "src",
                              dst: str = "dst",
                              max_rounds: int = 30) -> DataFrame:
    """Web-scale connected components via alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce
    and Beyond"): converges in O(log n) ROUNDS regardless of
    component diameter, where plain min-label propagation
    (canonicalize.connected_components, the blocking-graph path) pays
    one round PER HOP of the longest shortest path — on a 100 TB web
    graph whose host chains run thousands of hops, diameter-bound
    propagation is not runnable and this is the standard replacement.
    q176 drives it across 8 path components of diameter ~1250 in
    <= a dozen alternations (min-propagation would need 1250 rounds).

    Per alternation: two groupBy-min aggregates + two joins, all
    keyed by node — map-side combinable, no skew beyond the graph's
    own degree distribution; the edge set is localCheckpoint'ed per
    alternation (iterative-operator house rule) and convergence is an
    exact edge-multiset signature (count + sum of pair hashes), not a
    heuristic.

    large-star(u): m = min(N(u) ∪ {u}); emit (m, v) for v ∈ N(u),
    v > u.  small-star(u over edges oriented larger→smaller):
    m = min smaller-neighbor; emit (m, v) for the other smaller
    neighbors and (m, u).  Both preserve connectivity and strictly
    shrink potential (per the paper); at the fixpoint every edge is
    (root, member) with root = component min.

    Raises RuntimeError if the signature has not stabilized within
    max_rounds (the SCC/incremental-CC discipline: never return a
    partially-contracted labeling).

    Returns (id, comp) for every vertex of the input edge set."""
    from ..functions.hashing import md5_int

    e0 = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                       F.greatest(F.col(src), F.col(dst)).alias("b"))
          .where(F.col("a") != F.col("b"))
          .distinct()
          .localCheckpoint(eager=True))
    verts = (e0.select(F.col("a").alias("id"))
             .unionByName(e0.select(F.col("b").alias("id")))
             .distinct())

    def _large(e: DataFrame) -> DataFrame:
        sym = (e.select(F.col("a").alias("u"), F.col("b").alias("v"))
               .unionByName(e.select(F.col("b").alias("u"),
                                     F.col("a").alias("v"))))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))
        out = (sym.join(mins, "u")
               .where(F.col("v") > F.col("u"))
               .select(F.col("m").alias("a"), F.col("v").alias("b")))
        return out.where(F.col("a") != F.col("b")).distinct()

    def _small(e: DataFrame) -> DataFrame:
        sym = e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins = sym.groupBy("u").agg(F.min("v").alias("m"))
        nb = (sym.join(mins, "u")
              .select(F.col("m").alias("a"), F.col("v").alias("b"))
              .where(F.col("a") != F.col("b")))
        own = mins.select(F.col("m").alias("a"), F.col("u").alias("b"))
        return nb.unionByName(own).distinct()

    def _sig(e: DataFrame):
        # multiset signature: count + two independent 32-bit-folded
        # hash sums (raw md5_int is ~60 bits and a plain sum overflows
        # int64 after a handful of edges; folded sums stay < 2^63 up
        # to 2^31 edges per partition-tree, and two salts make a
        # false "stable" verdict a ~2^-64 event)
        pair = F.concat(F.col("a").cast("string"), F.lit(","),
                        F.col("b").cast("string"))
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(md5_int(pair, salt="ccsig1:")
                             % F.lit(1 << 32)), F.lit(0)).alias("h1"),
            F.coalesce(F.sum(md5_int(pair, salt="ccsig2:")
                             % F.lit(1 << 32)), F.lit(0)).alias("h2"),
        ).collect()[0]
        return (row["n"], row["h1"], row["h2"])

    e = e0
    prev = _sig(e)
    converged = False
    for _ in range(max_rounds):
        e = _small(_large(e)).localCheckpoint(eager=True)
        cur = _sig(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            "connected_components_star: edge signature still moving "
            "after max_rounds alternations — returning now could "
            "label a partially contracted component; raise max_rounds")
    members = e.select(F.col("b").alias("id"), F.col("a").alias("comp"))
    return (verts.join(members, "id", "left")
            .select("id", F.coalesce("comp", F.col("id")).alias("comp")))


def modularity_ppm(edges: DataFrame, communities: DataFrame,
                   src: str = "src", dst: str = "dst",
                   weight: str | None = None,
                   scale: int = 1_000_000) -> DataFrame:
    """Newman modularity Q of a node partition, exact-integer ppm —
    the quality score that tells you whether label_propagation_int's
    communities are real structure or noise (Q > ~0.3 is the usual
    "has community structure" bar; a random partition scores ~0).

    Callers pass the SAME symmetrized weighted edge list they gave
    LPA.  With W = total edge weight (sum over the symmetrized list,
    i.e. 2m), W_c = intra-community weight, S_c = summed weighted
    degree of community c:

        Q = sum_c (W_c / W - (S_c / W)^2)
          = (W * sum_c W_c - sum_c S_c^2) / W^2

    q_ppm = floor(scale * Q) computed as
    (scale * (numer + W^2)) div W^2 - scale: the +W^2 shift keeps the
    dividend non-negative (numer >= -sum S_c^2 >= -W^2), so Spark's
    truncating `div` and DuckDB's `//` agree even when Q < 0.

    PRECONDITION: 2 * scale * W^2 < 2^63, i.e. W <= ~2.1e6 at the
    default scale (the shifted dividend scale*(W*intra_w - _s2 + W^2)
    reaches ~2*scale*W^2 when intra_w ~ W and _s2 is small — a mostly
    -intra partition with many tiny communities; asserted at runtime)
    — modularity is a partition-quality AUDIT, computed on a bounded
    subgraph or a weight-capped sample at 100 TB, not on the raw
    corpus (cap weights or lower `scale` for heavier graphs).

    Scale shape: one weight total (1-row broadcast), one degree agg,
    two node-keyed joins of communities onto the edge endpoints, two
    community-keyed combinable sums, ONE output row.
    """
    w = (F.col(weight).cast("bigint") if weight is not None
         else F.lit(1).cast("bigint"))
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                     w.alias("w"))
    lab = communities.select(F.col("node"), F.col("community"))
    # coalesce: F.sum over an EMPTY edge set is NULL, and a NULL
    # condition trips the overflow assert below with a misleading
    # "exceeds int64-safe bound" message — an empty graph must reach
    # the final projection (n_communities=0 row) instead
    tot = e.agg(F.coalesce(F.sum("w"), F.lit(0))
                .cast("bigint").alias("w_tot"))
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("sd"))
    s_c = (deg.join(lab, "node")
           .groupBy("community").agg(F.sum("sd").alias("s_c")))
    w_c = (e.join(lab.withColumnRenamed("node", "src")
                  .withColumnRenamed("community", "c_src"), "src")
           .join(lab.withColumnRenamed("node", "dst")
                 .withColumnRenamed("community", "c_dst"), "dst")
           .where(F.col("c_src") == F.col("c_dst"))
           .groupBy(F.col("c_src").alias("community"))
           .agg(F.sum("w").alias("w_c")))
    per_c = (s_c.join(w_c, "community", "left")
             .select("community", "s_c",
                     F.coalesce("w_c", F.lit(0)).alias("w_c")))
    sums = per_c.agg(
        F.count("*").cast("bigint").alias("n_communities"),
        F.sum("w_c").cast("bigint").alias("intra_w"),
        F.sum(F.col("s_c") * F.col("s_c")).cast("bigint").alias("_s2"))
    # int64-overflow guard (round-4 advice): the shifted dividend can
    # reach ~2*scale*W^2, so enforce W <= isqrt(2^62/scale).  The
    # assert_true is FOLDED INTO w_tot itself (value-preserving
    # + coalesce(NULL)) — a standalone check column would be pruned
    # by Catalyst and never evaluate; riding w_tot means it fires on
    # the broadcast side BEFORE any dividend multiply (with ANSI on,
    # an s_c^2 ArithmeticException remains the loud backstop).
    import math
    w_lim = math.isqrt((2 ** 62) // scale)
    chk = F.assert_true(
        F.col("w_tot") <= F.lit(w_lim),
        F.lit(f"modularity_ppm: w_tot exceeds int64-safe bound "
              f"{w_lim} (2*scale*W^2 < 2^63); cap weights or "
              f"lower scale"))
    tot = tot.select(
        (F.col("w_tot") + F.coalesce(chk.cast("bigint"), F.lit(0)))
        .cast("bigint").alias("w_tot"))
    return (sums.crossJoin(F.broadcast(tot))
            .select("n_communities", "w_tot",
                    F.coalesce("intra_w", F.lit(0)).cast("bigint")
                    .alias("intra_w"),
                    F.expr(f"CASE WHEN w_tot = 0 THEN 0 ELSE "
                           f"({scale} * (w_tot * coalesce(intra_w, 0) "
                           f"- coalesce(_s2, 0) "
                           f"+ w_tot * w_tot)) div (w_tot * w_tot) "
                           f"- {scale} END")
                    .cast("bigint").alias("modularity_ppm")))


def edge_cut_audit(edges: DataFrame, layouts: dict,
                   src: str = "src", dst: str = "dst") -> DataFrame:
    """Partition-layout audit for graph materialization: for each
    candidate layout (name -> fn mapping a node Column to its
    partition id), count how many edges cross partitions.  Edge cut is
    THE cost driver for iterative graph jobs — every cut edge is a
    shuffled message per iteration — so choosing hash- vs
    range/host-clustered layout for the materialized edge table is an
    explicit 100 TB design decision; this makes it a measured one.

    Returns one row per layout: (layout, n_edges, cut_edges, cut_ppm),
    cut_ppm = 1e6 * cut div n_edges.

    Scale shape: one full-scan combinable aggregate per layout (the
    layout fns are pure projections — no join, no per-node dimension),
    unioned 1-row results.  With k layouts the scan runs k times;
    callers auditing many layouts on a huge edge table should persist
    the edge projection first.
    """
    outs = []
    for name, fn in layouts.items():
        cut = (fn(F.col(src)) != fn(F.col(dst))).cast("bigint")
        outs.append(
            edges.agg(F.count("*").cast("bigint").alias("n_edges"),
                      F.sum(cut).cast("bigint").alias("cut_edges"))
            .select(F.lit(name).alias("layout"), "n_edges", "cut_edges",
                    F.expr("(cut_edges * 1000000) div n_edges")
                    .cast("bigint").alias("cut_ppm")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _wl_neighbor_strings(e: DataFrame, lab: DataFrame,
                         max_in_degree: int | None) -> DataFrame:
    """One WL round's neighbor-multiset strings: (node, _ns) where
    _ns = comma-joined SORTED in-neighbor labels.

    max_in_degree=None is the exact path (one groupBy with a
    sort_array(collect_list) — per-node in-degree-sized buffer).
    With a cap N, the multiset is truncated DETERMINISTICALLY to its
    N lowest label values and the overflow COUNT is folded into the
    string as '|+<overflow>' — two hubs get equal labels iff their
    lowest-N multisets AND overflow counts agree.  The bounding
    mechanism is a row_number window (sort-based, spill-safe) so no
    aggregate buffer ever exceeds N elements: collect_list sees a
    when() that nulls rows past the cap, and collect_list skips
    nulls (round-4 verdict task: the one unbounded per-key aggregate
    left in the file)."""
    pairs = (e.join(lab.withColumnRenamed("node", "src"), "src")
             .select(F.col("dst").alias("node"), "l"))
    joined = F.array_join(
        F.transform(F.array_sort(F.collect_list("l")),
                    lambda x: x.cast("string")), ",")
    if max_in_degree is None:
        return pairs.groupBy("node").agg(joined.alias("_ns"))
    w = Window.partitionBy("node").orderBy(F.col("l").asc())
    kept = pairs.withColumn("_rn", F.row_number().over(w))
    capped = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col("_rn") <= max_in_degree, F.col("l")))),
            lambda x: x.cast("string")), ",")
    return (kept.groupBy("node")
            .agg(capped.alias("_kept"),
                 F.count("*").alias("_deg"))
            .select("node",
                    F.when(F.col("_deg") > max_in_degree,
                           F.concat(F.col("_kept"), F.lit("|+"),
                                    (F.col("_deg") - max_in_degree)
                                    .cast("string")))
                    .otherwise(F.col("_kept")).alias("_ns")))


def wl_signatures(edges: DataFrame, iters: int = 2,
                  src: str = "src", dst: str = "dst",
                  max_in_degree: int | None = None) -> DataFrame:
    """Weisfeiler-Lehman structural node signatures (the 1-WL color
    refinement behind graph-isomorphism screening and WL graph
    kernels): each round, a node's label becomes the hash of (its own
    label, the SORTED list of its in-neighbor labels).  After k
    rounds, nodes with equal labels are structurally equivalent to
    depth k — the graph-shape analogue of content fingerprinting, the
    primitive for subgraph dedup (template/link-farm shapes repeat),
    role discovery, and cheap graph-diff screening.

    Labels are md5-derived 60-bit integers of a canonical string
    (own_label ':' comma-joined sorted neighbor labels), so the
    refinement is bit-exact cross-engine.  The initial color is
    UNIFORM (1) — id-seeded colors would make every node its own
    singleton class and the refinement pointless; uniform start means
    round 1 classes = in-degree classes, round k = depth-k
    neighborhood-shape classes, exactly the 1-WL test.  Pass
    symmetrized edges for the undirected WL.

    Scale shape per round: one edges x labels join on src + one
    groupBy(dst) with a sort_array(collect_list(...)) aggregate.  The
    collected list is per-node in-degree-sized — the same hub-skew
    exposure as any adjacency aggregate; on a power-law graph set
    max_in_degree: the multiset is truncated to its N lowest labels
    with the overflow count folded into the hash (deterministic; see
    _wl_neighbor_strings), bounding every aggregate buffer at N.
    Default off — the exact 1-WL refinement."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    lab = nodes.withColumn("l", F.lit(1).cast("bigint"))
    for _ in range(iters):
        nb = _wl_neighbor_strings(e, lab, max_in_degree)
        lab = (lab.join(nb, "node", "left")
               .select("node",
                       md5_int(F.concat_ws(
                           ":", F.col("l").cast("string"),
                           F.coalesce(F.col("_ns"), F.lit(""))))
                       .alias("l")))
    return lab.select("node", F.col("l").alias("wl_label"))


def wl_trajectory(edges: DataFrame, iters: int = 2,
                  src: str = "src", dst: str = "dst",
                  max_in_degree: int | None = None) -> DataFrame:
    """Refinement trajectory of wl_signatures in ONE pass: per round
    0..iters, the number of distinct structural classes and the
    largest class size — how fast the graph individualizes (template
    farms plateau, organic graphs explode to singletons).

    Shares wl_signatures' recurrence exactly; each round's label
    table is localCheckpoint'ed so the per-round 1-row aggregates
    read materialized labels instead of replaying the join chain
    (running wl_signatures k+1 times costs O(k^2) joins — measured
    5.6 s vs one pass at sf0.1)."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .localCheckpoint())
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    lab = nodes.withColumn("l", F.lit(1).cast("bigint")) \
        .localCheckpoint()

    def sheet(lab_df, rnd):
        return (lab_df.groupBy("l").agg(F.count("*").alias("sz"))
                .agg(F.count("*").cast("bigint").alias("n_classes"),
                     F.max("sz").cast("bigint").alias("max_class"))
                .select(F.lit(rnd).cast("int").alias("round"),
                        "n_classes", "max_class"))
    out = sheet(lab, 0)
    for k in range(1, iters + 1):
        nb = _wl_neighbor_strings(e, lab, max_in_degree)
        lab = (lab.join(nb, "node", "left")
               .select("node",
                       md5_int(F.concat_ws(
                           ":", F.col("l").cast("string"),
                           F.coalesce(F.col("_ns"), F.lit(""))))
                       .alias("l"))
               .localCheckpoint())
        out = out.unionByName(sheet(lab, k))
    return out


def strongly_connected_components(edges: DataFrame,
                                  max_rounds: int = 12,
                                  max_prop: int = 25,
                                  src: str = "src",
                                  dst: str = "dst") -> DataFrame:
    """Strongly connected components of a directed graph, scc_id =
    the minimum node id in the component — the cycle-structure
    primitive behind redirect-loop detection, link-farm rings, and
    collapsing mutual-citation clusters before DAG analytics.

    FW-BW coloring (Orzan-style), deterministic and exact:
    each outer round on the remaining subgraph
      1. FORWARD min-label propagation to fixpoint: color(v) = min
         node id that reaches v (including v).
      2. Every color class contains its own root (color(c) = c); the
         class members that reach BACK to the root through same-color
         nodes are exactly SCC(root) — a backward propagation
         restricted to equal colors, to fixpoint.
      3. Settled nodes leave; their edges drop out by semi-join.
    Outer rounds needed = depth of the SCC condensation along
    min-id chains (small for real graphs); raises RuntimeError if
    max_rounds is exhausted with nodes unsettled rather than
    mislabeling them.  The INNER fixpoints carry the same contract:
    if the forward min-propagation still changes colors after
    max_prop passes, or the backward confinement is still growing,
    the round would settle TRUNCATED components — so both raise
    RuntimeError (raise max_prop; its bound is the graph's
    propagation diameter, e.g. the longest simple cycle).

    Scale shape: every step is a frontier join + combinable min/agg,
    localCheckpoint per fixpoint iteration (the pagerank lineage
    contract); the active vertex/edge sets shrink monotonically.
    Driver-side convergence checks (one count per iteration) are the
    standard price of fixpoint graph algorithms — same as
    connected_components."""
    e_all = (edges.select(F.col(src).alias("src"),
                          F.col(dst).alias("dst"))
             .where(F.col("src") != F.col("dst"))
             .distinct().localCheckpoint())
    active_n = (e_all.select(F.col("src").alias("node"))
                .union(e_all.select("dst")).distinct()
                .localCheckpoint())
    e = e_all
    done_parts = []
    for _ in range(max_rounds):
        if active_n.limit(1).count() == 0:
            break
        # 1) forward min propagation to fixpoint
        col = active_n.withColumn("c", F.col("node").cast("bigint"))
        changed = 1
        for _p in range(max_prop):
            msgs = (e.join(col.withColumnRenamed("node", "src"), "src")
                    .select(F.col("dst").alias("node"), "c"))
            new = (col.select("node", "c").union(msgs)
                   .groupBy("node").agg(F.min("c").alias("c"))
                   .localCheckpoint())
            changed = (new.alias("n").join(col.alias("o"), "node")
                       .where(F.col("n.c") != F.col("o.c"))
                       .limit(1).count())
            col = new
            if changed == 0:
                break
        if changed != 0:
            raise RuntimeError(
                "strongly_connected_components: forward propagation "
                "did not converge within max_prop passes — settling "
                "now would split components; raise max_prop")
        # 2) backward confinement: settled = reaches its root through
        # same-color nodes.  Seed = the roots themselves.
        ecol = (e.join(col.withColumnRenamed("node", "src")
                       .withColumnRenamed("c", "c_src"), "src")
                .join(col.withColumnRenamed("node", "dst")
                      .withColumnRenamed("c", "c_dst"), "dst")
                .where(F.col("c_src") == F.col("c_dst"))
                .select("src", "dst", F.col("c_src").alias("c"))
                .localCheckpoint())
        settled = (col.where(F.col("node") == F.col("c"))
                   .select("node", "c").localCheckpoint())
        converged = False
        for _p in range(max_prop):
            back = (ecol.join(settled.withColumnRenamed("node", "dst")
                              .drop("c"), "dst")
                    .select(F.col("src").alias("node"), "c")
                    .distinct())
            new = (settled.union(back).groupBy("node")
                   .agg(F.min("c").alias("c")).localCheckpoint())
            if new.count() == settled.count():
                settled = new
                converged = True
                break
            settled = new
        if not converged:
            raise RuntimeError(
                "strongly_connected_components: backward confinement "
                "still growing after max_prop passes — settling now "
                "would truncate a component; raise max_prop")
        done_parts.append(settled)
        # 3) shrink actives
        active_n = (active_n.join(settled.select("node"), "node",
                                  "left_anti").localCheckpoint())
        e = (e.join(settled.select(F.col("node").alias("src")),
                    "src", "left_anti")
             .join(settled.select(F.col("node").alias("dst")),
                   "dst", "left_anti")
             .select("src", "dst").localCheckpoint())
    if active_n.limit(1).count() != 0:
        raise RuntimeError(
            "strongly_connected_components: max_rounds exhausted "
            "with nodes unsettled — raise max_rounds")
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out.select("node", F.col("c").alias("scc_id"))


def maximal_independent_set(edges: DataFrame, src: str = "src",
                            dst: str = "dst",
                            max_rounds: int = 12) -> DataFrame:
    """Deterministic Luby-style maximal independent set (Luby 1986):
    the standard parallel primitive behind conflict-free scheduling,
    landmark/seed selection, and coloring — each round, every ACTIVE
    node whose priority beats all its active neighbors' joins the MIS
    and knocks its neighbors out, so the set is independent by
    construction and maximal at the empty-active fixpoint.  Expected
    O(log n) rounds regardless of diameter (each round removes a
    constant fraction of remaining edges in expectation) — the same
    round-budget class as connected_components_star, vs the
    diameter-bound propagation loops (pagerank_int-style) that a
    100 TB web graph cannot afford.

    Priority is content-addressed and collision-proof:
    md5(node) || '#' || node — a total order every engine computes
    identically (string min), so the WHOLE trajectory (who wins WHICH
    round) is bit-stable across Spark, DuckDB, and cluster sizes; no
    RNG state to ship.

    Per round: one edge-restriction join against the active set, one
    per-node min aggregate (map-side combinable), two anti-joins; the
    active set is localCheckpoint'ed per round (iterative-operator
    house rule — unrolled rounds otherwise replicate the plan and
    planning alone can OOM the driver).  Isolated active nodes (no
    surviving neighbor) win their round unconditionally.

    Raises RuntimeError if nodes remain active after max_rounds (the
    SCC/star-CC discipline: never return a partial set — a truncated
    MIS is silently non-maximal).

    Returns (node, mis_round) — MIS members only, with the 1-based
    round in which each entered (the round trajectory is part of the
    oracle contract)."""
    e0 = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                       F.greatest(F.col(src), F.col(dst)).alias("b"))
          .where(F.col("a") != F.col("b"))
          .distinct()
          .localCheckpoint(eager=True))
    sym = (e0.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .unionByName(e0.select(F.col("b").alias("u"),
                                  F.col("a").alias("v"))))
    pri = F.concat(F.md5(F.col("node").cast("string")), F.lit("#"),
                   F.col("node").cast("string"))
    act = (e0.select(F.col("a").alias("node"))
           .unionByName(e0.select(F.col("b").alias("node")))
           .distinct()
           .select("node", pri.alias("pri"))
           .localCheckpoint(eager=True))
    winners_rounds: list[DataFrame] = []
    for r in range(1, max_rounds + 1):
        if act.limit(1).count() == 0:
            break
        ea = (sym.join(act.select(F.col("node").alias("u")), "u")
              .join(act.select(F.col("node").alias("v"),
                               F.col("pri").alias("pri_v")), "v"))
        mn = ea.groupBy("u").agg(F.min("pri_v").alias("min_pri"))
        win = (act.join(mn, act["node"] == mn["u"], "left")
               .where(F.col("u").isNull()
                      | (F.col("pri") < F.col("min_pri")))
               .select("node")
               .localCheckpoint(eager=True))
        winners_rounds.append(
            win.select("node", F.lit(r).cast("int").alias("mis_round")))
        removed = (ea.join(win.select(F.col("node").alias("u")), "u")
                   .select(F.col("v").alias("node")).distinct())
        act = (act.join(win, "node", "left_anti")
               .join(removed, "node", "left_anti")
               .localCheckpoint(eager=True))
    if act.limit(1).count() != 0:
        raise RuntimeError(
            "maximal_independent_set: max_rounds exhausted with nodes "
            "still active — raise max_rounds")
    if not winners_rounds:  # edgeless input: empty MIS, same schema
        return act.select("node", F.lit(0).cast("int").alias("mis_round"))
    out = winners_rounds[0]
    for p in winners_rounds[1:]:
        out = out.unionByName(p)
    return out


def maximal_matching(edges: DataFrame, src: str = "src",
                     dst: str = "dst",
                     max_rounds: int = 12) -> DataFrame:
    """Deterministic parallel maximal matching (the edge twin of
    maximal_independent_set — Israeli & Itai 1986 style): each round,
    an ACTIVE edge enters the matching iff its priority is the
    minimum among all active edges at BOTH endpoints, then every
    edge touching a matched node is knocked out.  The winner set per
    round is independent by construction (two winners cannot share a
    node) and the fixpoint is maximal; the global-min active edge
    always wins, and random-like priorities remove a constant
    fraction of edges per round in expectation — O(log n) rounds,
    diameter-free, the same budget class as star-CC and MIS.

    KG use: conflict-free entity-resolution merge scheduling — each
    candidate pair (survivor, duplicate) touches two cluster
    representatives, and a matching is exactly the largest batch of
    merges that can commit in one wave without write-write conflicts
    (kg_merge_schedule runs this on real alias-candidate pairs).

    Priority is content-addressed and collision-proof:
    md5(a || '#' || b) || '#' || a || '#' || b — a total order every
    engine computes identically, so the whole round trajectory is
    bit-stable (the q177 MIS discipline).

    Per round: one endpoint expansion (2x active edges), one
    per-node min aggregate (map-side combinable), two equi-joins to
    read back both endpoint minima, two anti-joins to retire matched
    nodes; active set localCheckpoint'ed per round (iterative-
    operator house rule).

    Raises RuntimeError if edges remain active after max_rounds — a
    truncated matching is silently non-maximal (the MIS/SCC
    discipline).

    Returns (a, b, match_round), a < b, 1-based round."""
    act = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                        F.greatest(F.col(src), F.col(dst)).alias("b"))
           .where(F.col("a") != F.col("b"))
           .distinct())
    pri = F.concat(
        F.md5(F.concat(F.col("a").cast("string"), F.lit("#"),
                       F.col("b").cast("string"))),
        F.lit("#"), F.col("a").cast("string"),
        F.lit("#"), F.col("b").cast("string"))
    act = act.select("a", "b", pri.alias("pri")).localCheckpoint(eager=True)
    rounds: list[DataFrame] = []
    for r in range(1, max_rounds + 1):
        if act.limit(1).count() == 0:
            break
        inc = (act.select(F.col("a").alias("node"), "pri")
               .unionByName(act.select(F.col("b").alias("node"), "pri")))
        mn = inc.groupBy("node").agg(F.min("pri").alias("mp"))
        win = (act
               .join(mn.select(F.col("node").alias("a"),
                               F.col("mp").alias("mpa")), "a")
               .join(mn.select(F.col("node").alias("b"),
                               F.col("mp").alias("mpb")), "b")
               .where((F.col("pri") == F.col("mpa"))
                      & (F.col("pri") == F.col("mpb")))
               .select("a", "b")
               .localCheckpoint(eager=True))
        rounds.append(
            win.select("a", "b", F.lit(r).cast("int").alias("match_round")))
        matched = (win.select(F.col("a").alias("node"))
                   .unionByName(win.select(F.col("b").alias("node"))))
        act = (act.join(matched.select(F.col("node").alias("a")),
                        "a", "left_anti")
               .join(matched.select(F.col("node").alias("b")),
                     "b", "left_anti")
               .localCheckpoint(eager=True))
    if act.limit(1).count() != 0:
        raise RuntimeError(
            "maximal_matching: max_rounds exhausted with edges still "
            "active — raise max_rounds")
    if not rounds:  # edgeless input: empty matching, same schema
        return act.select("a", "b",
                          F.lit(0).cast("int").alias("match_round"))
    out = rounds[0]
    for p in rounds[1:]:
        out = out.unionByName(p)
    return out


def betweenness_sampled(edges: DataFrame, roots: DataFrame,
                        radius: int = 3, scale: int = 1_000_000,
                        src: str = "src", dst: str = "dst") -> DataFrame:
    """Sampled bounded-radius betweenness centrality (Brandes 2001,
    pivot form à la Brandes & Pich 2007): dependency accumulation
    from a SAMPLED root set over shortest paths of length <= radius
    — the bridge-node detector (which entities sit on inter-community
    shortest paths) that degree/PageRank/harmonic miss.  Exact
    betweenness is O(V*E) and unrunnable at 100 TB; pivots + a radius
    cap is the standard estimator, and both caps are explicit
    parameters here, never silent.

    Forward phase: one multi-source BFS carrying integer path counts
    — level d holds (root, v, sigma) with sigma = number of distinct
    shortest root->v paths, built by summing predecessor sigmas THEN
    anti-joining the seen set (first visit wins); per level one join
    + one combinable sum + one anti-join, localCheckpoint'ed (the
    iterative house rule).

    Backward phase: Brandes' dependency, integer-scaled —

        delta(v) = sum over shortest-path successors w of
                   (sigma_v * (scale + delta_w)) DIV sigma_w

    floor-divided per TERM, so Spark and the unrolled-SQL oracle
    agree bit for bit (the summation order never matters).  Roots'
    own deltas are not emitted (v != s, per Brandes).

    Overflow bound: sigma_v * (scale + max delta) must stay < 2^63;
    sigma is at most (max out-degree)^radius and delta at most
    ball_size * scale — at the default scale 1e6 that allows
    sigma * ball ~ 9e12, far beyond any radius-3 ball here; shrink
    scale for deeper radii or hub-dense graphs.

    Returns (node, n_roots, bw_scaled): visit count and summed
    scaled dependency over the root sample — nodes seen only at the
    deepest level carry bw_scaled 0 (no successor inside the
    radius)."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col("src") != F.col("dst"))
         .distinct()
         .localCheckpoint(eager=True))
    lvl0 = (roots.select(F.col("node").alias("root")).distinct()
            .select("root", F.col("root").alias("v"),
                    F.lit(1).cast("bigint").alias("sigma"))
            .localCheckpoint(eager=True))
    levels = [lvl0]
    seen = lvl0.select("root", "v").localCheckpoint(eager=True)
    for _d in range(1, radius + 1):
        expand = (levels[-1].join(e.withColumnRenamed("src", "v"), "v")
                  .select("root", F.col("dst").alias("v"), "sigma"))
        nxt = (expand.groupBy("root", "v")
               .agg(F.sum("sigma").alias("sigma"))
               .join(seen, ["root", "v"], "left_anti")
               .localCheckpoint(eager=True))
        levels.append(nxt)
        seen = (seen.unionByName(nxt.select("root", "v"))
                .localCheckpoint(eager=True))
    deltas = {radius: levels[radius].select(
        "root", "v", "sigma", F.lit(0).cast("bigint").alias("delta"))}
    for d in range(radius - 1, 0, -1):
        succ = deltas[d + 1].select(
            "root", F.col("v").alias("w"),
            F.col("sigma").alias("sigma_w"),
            F.col("delta").alias("delta_w"))
        contrib = (levels[d].join(e.withColumnRenamed("src", "v"), "v")
                   .select("root", "v", "sigma",
                           F.col("dst").alias("w"))
                   .join(succ, ["root", "w"])
                   .select("root", "v",
                           F.expr(f"(sigma * ({scale} + delta_w)) "
                                  "DIV sigma_w").alias("term")))
        deltas[d] = (levels[d]
                     .join(contrib.groupBy("root", "v")
                           .agg(F.sum("term").alias("delta")),
                           ["root", "v"], "left")
                     .select("root", "v", "sigma",
                             F.coalesce(F.col("delta"), F.lit(0))
                             .cast("bigint").alias("delta"))
                     .localCheckpoint(eager=True))
    alld = deltas[radius].select("root", "v", "delta")
    for d in range(1, radius):
        alld = alld.unionByName(deltas[d].select("root", "v", "delta"))
    return (alld.groupBy(F.col("v").alias("node"))
            .agg(F.count("*").cast("bigint").alias("n_roots"),
                 F.sum("delta").cast("bigint").alias("bw_scaled")))


def boruvka_mst(edges: DataFrame, src: str = "src", dst: str = "dst",
                weight: str = "w", max_rounds: int = 16,
                cc_rounds: int = 30) -> DataFrame:
    """Minimum spanning forest via distributed Borůvka rounds — the
    web-scale MST (single-linkage entity-resolution clustering is an
    MST threshold cut, and the co-mention backbone demo
    kg_entity_backbone is its maximum-weight mirror).  Per round,
    every component picks its cheapest outgoing edge (one combinable
    min per component), the picked edges merge components, and the
    component labeling contracts via connected_components_star on
    the WINNER graph only (component-count nodes, one edge per
    component — tiny next to the input).  Components at least halve
    per round, so rounds <= ceil(log2 n) REGARDLESS of weights or
    topology — the same diameter-free budget class as star-CC/MIS.

    Edge priority is the total order (w, a, b) encoded as a
    zero-padded string (the q177/q188 priority discipline): with a
    total order the minimum spanning FOREST is unique, so the edge
    SET is algorithm-independent and the per-round trajectory
    (mst_round) certifies Borůvka itself.  Weights and node ids must
    be non-negative int64 (raises ValueError otherwise — a negative
    breaks the lexicographic zero-pad order silently).

    Per round: two label joins + one per-component min + one
    priority-equality join back (priorities are unique per edge) +
    the star-CC contraction; everything iterative is
    localCheckpoint'ed (house rule).  Raises RuntimeError if
    cross-component edges remain after max_rounds (the SCC/MIS
    discipline — a truncated forest is silently disconnected).

    Returns (a, b, w, mst_round), a < b, 1-based round."""
    e0 = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                       F.greatest(F.col(src), F.col(dst)).alias("b"),
                       F.col(weight).cast("bigint").alias("w"))
          .where(F.col("a") != F.col("b"))
          .groupBy("a", "b").agg(F.min("w").alias("w")))
    pri = F.concat(F.lpad(F.col("w").cast("string"), 19, "0"),
                   F.lit("#"),
                   F.lpad(F.col("a").cast("string"), 19, "0"),
                   F.lit("#"),
                   F.lpad(F.col("b").cast("string"), 19, "0"))
    e0 = e0.select("a", "b", "w", pri.alias("pri")).localCheckpoint(eager=True)
    low = e0.agg(F.min("w").alias("w"), F.min("a").alias("a")).collect()
    if low and low[0]["w"] is not None and (low[0]["w"] < 0
                                            or low[0]["a"] < 0):
        raise ValueError(
            "boruvka_mst: negative weight or node id — the zero-pad "
            "priority order requires non-negative int64 values")
    comp = (e0.select(F.col("a").alias("node"))
            .unionByName(e0.select(F.col("b").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("comp"))
            .localCheckpoint(eager=True))
    parts: list[DataFrame] = []
    converged = False
    for r in range(1, max_rounds + 1):
        cross = (e0.join(comp.select(F.col("node").alias("a"),
                                     F.col("comp").alias("ca")), "a")
                 .join(comp.select(F.col("node").alias("b"),
                                   F.col("comp").alias("cb")), "b")
                 .where(F.col("ca") != F.col("cb"))
                 .localCheckpoint(eager=True))
        if cross.limit(1).count() == 0:
            converged = True
            break
        cand = (cross.select(F.col("ca").alias("c"), "pri")
                .unionByName(cross.select(F.col("cb").alias("c"), "pri")))
        mn = cand.groupBy("c").agg(F.min("pri").alias("mp"))
        win = (cross.join(mn.select(F.col("mp").alias("pri")).distinct(),
                          "pri")
               .select("a", "b", "w", "ca", "cb")
               .localCheckpoint(eager=True))
        parts.append(win.select(
            "a", "b", "w", F.lit(r).cast("int").alias("mst_round")))
        remap = connected_components_star(
            win.select(F.col("ca").alias("src"), F.col("cb").alias("dst")),
            max_rounds=cc_rounds)
        comp = (comp.join(remap.select(F.col("id").alias("comp"),
                                       F.col("comp").alias("nc")),
                          "comp", "left")
                .select("node", F.coalesce("nc", F.col("comp"))
                        .alias("comp"))
                .localCheckpoint(eager=True))
    if not converged:
        raise RuntimeError(
            "boruvka_mst: cross-component edges remain after "
            "max_rounds — raise max_rounds (components halve per "
            "round, so ceil(log2 n) suffices)")
    if not parts:  # edgeless input: empty forest, same schema
        return e0.select("a", "b", "w",
                         F.lit(0).cast("int").alias("mst_round"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def densest_subgraph_peel(edges: DataFrame, src: str = "src",
                          dst: str = "dst", eps_num: int = 1,
                          eps_den: int = 2,
                          max_rounds: int = 40) -> DataFrame:
    """Densest-subgraph greedy peel (Charikar's 2-approximation,
    batched a la Bahmani-Kumar-Vassilvitskii "Densest Subgraph in
    Streaming and MapReduce"): per round, drop EVERY node whose
    degree is at most 2(1+eps) * density, which removes at least an
    eps/(1+eps) fraction of surviving nodes — O(log n) rounds
    regardless of structure, and the best surviving prefix is a
    2(1+eps)-approximate densest subgraph.  The web-graph
    spam-farm / link-exchange detector (a dense co-citation core
    peels last), and the dense-community complement of k-core's
    fixed-threshold peel (there a fixed k; here the threshold tracks
    the surviving graph's own density).

    All arithmetic is exact int64 (the house cross-engine rule):
    the removal test  deg <= floor(2*(eps_den+eps_num)*m /
    (n*eps_den))  is the integer form of deg <= 2(1+eps)*m/n, and
    density_ppm = floor(1e6 * m / n) requires m < ~9.2e12 edges
    (int64 / 1e6) — document-scale graphs pass; shard first beyond.

    Per round: one distinct-node count, one degree aggregate
    (map-side combinable), one broadcast-size threshold computed
    driver-side from the (n, m) pair, two anti-joins; the surviving
    edge set is localCheckpoint'ed per round (iterative house rule).
    Raises RuntimeError if edges survive past max_rounds (the
    SCC/MIS discipline).

    Returns the peel TRAJECTORY, one row per round r while edges
    remain: (round, n_nodes, n_edges, density_ppm, is_best) where
    is_best marks the max-density round (ties: earliest)."""
    spark = edges.sparkSession
    cur = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                        F.greatest(F.col(src), F.col(dst)).alias("b"))
           .where(F.col("a") != F.col("b"))
           .distinct()
           .localCheckpoint(eager=True))
    rows: list[tuple[int, int, int, int]] = []
    for r in range(1, max_rounds + 1):
        m = cur.count()
        if m == 0:
            break
        n = (cur.select(F.col("a").alias("v"))
             .unionByName(cur.select(F.col("b").alias("v")))
             .distinct().count())
        rows.append((r, n, m, (1_000_000 * m) // n))
        thr = (2 * (eps_den + eps_num) * m) // (n * eps_den)
        deg = (cur.select(F.col("a").alias("v"))
               .unionByName(cur.select(F.col("b").alias("v")))
               .groupBy("v").agg(F.count("*").alias("d")))
        rm = deg.where(F.col("d") <= F.lit(thr)).select("v")
        cur = (cur.join(rm.select(F.col("v").alias("a")), "a", "left_anti")
               .join(rm.select(F.col("v").alias("b")), "b", "left_anti")
               .localCheckpoint(eager=True))
    else:
        if cur.limit(1).count() != 0:
            raise RuntimeError(
                "densest_subgraph_peel: edges survive past max_rounds "
                "— raise max_rounds (the peel removes an eps/(1+eps) "
                "node fraction per round, so O(log n) suffices)")
    best = max(rows, key=lambda t: (t[3], -t[0]))[0] if rows else 0
    out = [(r, n, m, d, 1 if r == best else 0) for r, n, m, d in rows]
    return spark.createDataFrame(
        out, "round int, n_nodes bigint, n_edges bigint, "
             "density_ppm bigint, is_best int")


def trust_spam_mass(edges: DataFrame, seeds: list, iters: int = 3,
                    scale: int = 1_000_000,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """TrustRank / spam-mass scoring (Gyongyi et al. 2004): run
    global PageRank and seed-personalized PageRank (trust) over the
    SAME graph, normalize trust to the PageRank mass total, and
    report per node how much of its rank is NOT accounted for by
    trust flowing from the vetted seed set —

        spam_ppm(v) = max(0, (pr(v) - trust_norm(v)) * 1e6 div pr(v))

    High-PR low-trust nodes are the link-spam suspects: rank earned
    from regions the seed whitelist cannot reach.  The composition
    member of the rank family — q40/q68 rank, q62 personalizes,
    this SUBTRACTS one from the other; both recurrences are the
    existing integer fixed-point operators, so the unrolled-SQL
    oracle certifies the whole composition bit-exactly.

    Normalization is exact integer: trust_norm = trust * sum(pr)
    div sum(trust) (1-row sums, broadcast crossjoin — the house
    1-row fold).  Bounds: trust * sum(pr) <= ~1e7 * n*scale, safe
    in int64 to ~1e5 nodes at default scale; pr > 0 always (the
    (1-d)*scale teleport floor), so the division is total.

    Scale shape: one persisted edge set feeds both recurrences
    (2 * iters joins + groupBys); everything else is node-sized.
    Caller releases via .unpersist_input."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .persist())
    pr = pagerank_int(e, iters=iters, scale=scale)
    tr = (ppr_int(e, seeds, iters=iters, scale=scale)
          .withColumnRenamed("pr", "trust"))
    sums = (pr.agg(F.sum("pr").alias("s_pr"))
            .crossJoin(tr.agg(F.sum("trust").alias("s_tr"))))
    out = (pr.join(tr, "node", "left")
           .crossJoin(F.broadcast(sums))
           .select(
               "node", "pr",
               F.expr("coalesce(trust, 0) * s_pr div s_tr")
               .cast("bigint").alias("trust_norm"))
           .select(
               "node", "pr", "trust_norm",
               F.greatest(
                   F.lit(0),
                   F.expr("(pr - trust_norm) * 1000000 div pr"))
               .cast("bigint").alias("spam_ppm")))
    out.unpersist_input = e.unpersist
    return out


