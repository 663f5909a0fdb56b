"""Graph materialization: vertices + edges with explicit skew handling.

Head entities (country names etc. appearing in a large fraction of
documents) make the edge table skewed on src_id.  The salting decision
is COMPUTED, not guessed (SURVEY.md §7.3): a frequency pass counts
edges per src_id; keys above `head_threshold` x mean get a salt column
pmod(md5(url), n_salt) so downstream repartition/write spreads each hot
key over n_salt tasks.  AQE skew-join splitting stays on as the second
line of defense.

Writes partitioned Parquet through sources.catalog (Iceberg-gated).
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


def random_walks(edges: DataFrame, walk_len: int = 3,
                 walks_per_node: int = 1, seed: str = "walk",
                 src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic DeepWalk-style walk corpus over a directed edge
    list (pass both directions for undirected): walks_per_node walks
    of walk_len steps from every node, the training-sequence generator
    for node2vec/DeepWalk-family KG embeddings.

    The RNG is replaced by the house content-hash discipline: step t
    from node v in walk (start, wid) follows neighbor number
    md5(seed:start:wid:t:v) mod outdeg(v) of v's id-ordered adjacency
    list.  Same walk corpus at any cluster size, on re-runs, and in
    the unrolled DuckDB oracle — a seeded RNG gives none of those.

    Scale shape: the adjacency list is indexed ONCE with a per-node
    row_number (the only sort; partition = one node's out-edges, so
    skew equals max out-degree — cap hubs upstream if that bites),
    then each step is a broadcast-free pair of shuffled joins keyed
    on the current node.  The frontier is localCheckpointed per step:
    walk state is (start, wid, node)-thin, while the UNROLLED lineage
    would replicate the adjacency plan per step (the kg_entity_rank
    driver-OOM lesson).  Sinks end their walks early, exactly like
    the reference random-walk corpus generators.

    Returns (start, wid, step, node) — step 0 is the start row."""
    adj = (edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
           .where(F.col("node") != F.col("nbr")).distinct())
    w = Window.partitionBy("node").orderBy("nbr")
    adjidx = (adj.withColumn("_i", F.row_number().over(w) - 1)
              .localCheckpoint())
    deg = adjidx.groupBy("node").agg(F.count("*").alias("_deg"))
    nodes = (edges.select(F.col(src).alias("node"))
             .unionByName(edges.select(F.col(dst).alias("node")))
             .distinct())
    frontier = nodes.select(
        F.col("node").alias("start"),
        F.explode(F.array(*[F.lit(i) for i in range(walks_per_node)]))
        .alias("wid"),
        F.col("node"))
    out = frontier.withColumn("step", F.lit(0))
    for step in range(1, walk_len + 1):
        pick = F.pmod(
            md5_int(F.concat_ws(
                ":", F.lit(seed), F.col("start").cast("string"),
                F.col("wid").cast("string"), F.lit(str(step)),
                F.col("node").cast("string"))),
            F.col("_deg"))
        # NOTE measured dead end (sf0.1, fresh sessions, A/B): forcing
        # F.broadcast(deg) here DOUBLES the walk time (9.3/6.3s ->
        # 17.9/59s warm) — the hint rebuilds the driver-side broadcast
        # from deg's full lineage once per step, while the plain join
        # lets AQE reuse the step's existing exchanges.  Leave the
        # join strategy to AQE.
        frontier = (frontier.join(deg, "node")
                    .withColumn("_pick", pick)
                    .join(adjidx.select("node",
                                        F.col("_i").alias("_pick"),
                                        F.col("nbr").alias("_next")),
                          ["node", "_pick"])
                    .select("start", "wid", F.col("_next").alias("node"))
                    .localCheckpoint())
        out = out.unionByName(frontier.withColumn("step", F.lit(step)))
    return out.select(F.col("start").cast("bigint").alias("start"),
                      F.col("wid").cast("int").alias("wid"),
                      F.col("step").cast("int").alias("step"),
                      F.col("node").cast("bigint").alias("node"))


def kcore(edges: DataFrame, k: int = 2, iters: int = 8,
          src: str = "src", dst: str = "dst") -> DataFrame:
    """k-core decomposition by iterative peeling over an undirected
    edge list: drop every node of degree < k, re-count, repeat — the
    standard spam/boilerplate-host filter on web graphs (low-core
    nodes are leaves and tendrils; the dense core is where real
    communities and authority live).

    Fixed iteration count so the unrolled DuckDB oracle is bit-exact;
    run with iters >= the peel depth (each round strictly shrinks the
    node set or the result is already the fixpoint, so convergence is
    detectable by an unchanged count — at production scale loop until
    the removed-count accumulator reads 0 instead of a fixed bound).

    Each round is ONE combinable degree aggregate + two semi-joins;
    the surviving edge list is localCheckpointed per round (iterative-
    operator house rule: unrolled lineage replicates the input plan
    per iteration and planning alone can OOM the driver).

    Returns (node, core_deg) for nodes surviving the k-core."""
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    e = (e.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
         .unionByName(e.select(F.col("b").alias("node"),
                               F.col("a").alias("nbr")))
         .localCheckpoint())
    for _ in range(iters):
        deg = e.groupBy("node").agg(F.count("*").alias("_d"))
        keep = deg.where(F.col("_d") >= k).select("node")
        e = (e.join(keep, "node", "left_semi")
             .join(keep.withColumnRenamed("node", "nbr"), "nbr",
                   "left_semi")
             .localCheckpoint())
    return e.groupBy("node").agg(
        F.count("*").cast("bigint").alias("core_deg"))


def adamic_adar(edges: DataFrame, src: str = "src", dst: str = "dst",
                min_common: int = 2,
                max_center_degree: int | None = None,
                scale: int = 1_000_000) -> DataFrame:
    """Adamic-Adar link prediction over an undirected edge list: for
    every node pair sharing >= min_common neighbors, the sum over the
    COMMON neighbors z of scale div bit_length(deg(z)) — the integer
    twin of the classic 1/log(deg(z)) weighting (rare shared neighbors
    count more than hubs), the second standard KG link-prediction /
    entity-merge score next to neighbor_jaccard.

    Columns: (n1, n2, common, aa_micro) with n1 < n2.  bit_length via
    length(bin(x)) — the same integer-log idiom as the q38 idf — so
    the DuckDB oracle hash-matches exactly; a float 1/ln(d) would not.

    Scale shape is neighbor_jaccard's wedge join with the weight
    riding the wedge: pairs are generated ONLY through shared
    neighbors, the per-center weight joins in from the broadcast
    degree dimension BEFORE the self-join (one wedge row carries its
    center's weight, so the pair aggregate is a single combinable
    sum), and hub centers above max_center_degree are dropped before
    the quadratic step — exactly the hubs whose AA weight is smallest,
    making the cap a principled truncation, not just a safety valve."""
    adj = (edges.select(F.least(F.col(src), F.col(dst)).alias("node"),
                        F.greatest(F.col(src), F.col(dst)).alias("nbr"))
           .where(F.col("node") != F.col("nbr")))
    adj = (adj.unionByName(adj.select(F.col("nbr").alias("node"),
                                      F.col("node").alias("nbr")))
           .distinct())
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))
    # a center needs >= 2 leaves to make a wedge, so deg >= 2 and
    # bit_length(deg) >= 2 on every surviving row — no division hazard
    cdeg = deg.select(F.col("node").alias("center"),
                      F.floor(F.lit(scale)
                              / F.length(F.bin(F.col("deg"))))
                      .cast("bigint").alias("aa_w"),
                      F.col("deg").alias("cdeg"))
    if max_center_degree is not None:
        cdeg = cdeg.where(F.col("cdeg") <= max_center_degree)
    centers = (adj.select(F.col("nbr").alias("center"),
                          F.col("node").alias("leaf"))
               .join(F.broadcast(cdeg.select("center", "aa_w")), "center"))
    a, b = centers.alias("a"), centers.alias("b")
    return (a.join(b, (F.col("a.center") == F.col("b.center"))
                   & (F.col("a.leaf") < F.col("b.leaf")))
            .groupBy(F.col("a.leaf").alias("n1"),
                     F.col("b.leaf").alias("n2"))
            .agg(F.count("*").alias("common"),
                 F.sum(F.col("a.aa_w")).alias("aa_micro"))
            .where(F.col("common") >= min_common)
            .select(F.col("n1").cast("bigint").alias("n1"),
                    F.col("n2").cast("bigint").alias("n2"),
                    F.col("common").cast("bigint").alias("common"),
                    F.col("aa_micro").cast("bigint").alias("aa_micro")))


def triangle_counts(edges: DataFrame,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation count over an undirected edge
    list (self-loops and duplicate/reverse edges tolerated): the KG
    cohesion statistic behind clustering coefficients and community
    seeds.

    Degree-oriented wedge enumeration (the standard distributed
    algorithm): canonical a<b edges are re-oriented from the
    (degree, id)-SMALLER endpoint to the larger, wedges are built by
    joining the oriented list with itself on the wedge center, and a
    final join against the canonical edge set closes each wedge.
    Orientation bounds the wedge fan-out per center by the MINIMUM
    endpoint degree, so a head node of degree d contributes O(d)
    wedges instead of O(d^2) — the skew lever that makes the join
    survive power-law graphs at 100 TB.  Per-node counts are
    orientation-independent (each triangle contributes exactly once
    to each of its three corners).

    MEASURED DEAD END (round 4, do not redo): persisting the
    canonical edge set e (and adamic_adar's adj) to stop the apparent
    "4x upstream replay" makes these operators 3-5x SLOWER (q52 18 ->
    67 s, q91 4.2 -> 22 s at sf0.1): the replayed subtrees end in
    IDENTICAL shuffle exchanges, which Spark already deduplicates via
    ReusedExchange, while an InMemoryRelation blocks that reuse AND
    hides stats from AQE's join planning.  Persist pays off only when
    the repeated subtrees are NOT exchange-identical (domain_range's
    two modal sides, q100's signature tables) — measure, never
    pattern-match, before caching."""
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct())
    closed = _closed_triangles(e)
    corners = (closed.select(F.col("x").alias("node"))
               .unionByName(closed.select(F.col("y").alias("node")))
               .unionByName(closed.select(F.col("z").alias("node"))))
    return corners.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_tri"))


def _closed_triangles(e: DataFrame) -> DataFrame:
    """One (x, y, z) row per triangle of a canonical (a < b, distinct)
    edge list — the degree-oriented wedge enumeration shared by
    triangle_counts (corners) and _edge_support / ktruss (sides), so
    an orientation or join-strategy fix lands in both.

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
    oriented/wedge subtrees (the triangle_counts measured dead end:
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
    than the k-core's degree peel (q94): every edge must sit in k-2
    triangles, so star spam hubs (degree-high, triangle-free) are cut
    where k-core keeps them.  Fixed `rounds` to stay bit-exact
    against the unrolled DuckDB oracle, exactly the q94 contract —
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


def clustering_coefficient(edges: DataFrame, src: str = "src",
                           dst: str = "dst",
                           scale: int = 1_000_000) -> DataFrame:
    """Per-node local clustering coefficient in integer ppm:
    cc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)) for deg >= 2
    (0 otherwise) — the node-level cohesion score used to separate
    organically-linked hubs (high cc neighborhoods) from spam/link-farm
    hubs (star-shaped, cc ~ 0) on web host graphs.

    Rides triangle_counts' degree-oriented wedge join unchanged; the
    coefficient itself is one broadcast-joinable projection over the
    per-node (deg, n_tri) pair.  2*tri*scale fits 64-bit for any
    realistic scale; integer floor division keeps the DuckDB oracle
    bit-exact."""
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct())
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").cast("bigint").alias("deg")))
    tri = triangle_counts(e, src="a", dst="b")
    return (deg.join(tri, "node", "left")
            .select("node", "deg",
                    F.coalesce(F.col("n_tri"), F.lit(0))
                    .cast("bigint").alias("n_tri"))
            .withColumn(
                "cc_ppm",
                F.when(F.col("deg") >= 2,
                       F.floor(F.lit(2) * F.col("n_tri") * F.lit(scale)
                               / (F.col("deg") * (F.col("deg") - 1))))
                .otherwise(F.lit(0)).cast("bigint")))


def butterfly_counts(edges: DataFrame, src: str = "src",
                     dst: str = "dst",
                     max_center_degree: int | None = None) -> DataFrame:
    """Per-node butterfly counts over an undirected (typically
    bipartite) edge list: a butterfly is a 2x2 biclique — the
    bipartite analogue of the triangle, the cohesion motif behind
    spam-farm and collusion detection on page<->host / user<->item
    graphs (two nodes sharing TWO+ common neighbors form
    C(common, 2) butterflies).

    Rides the neighbor_jaccard wedge machinery: the same-side pair
    table (n1, n2, common) already counts shared neighbors, so each
    pair contributes common*(common-1)/2 butterflies to BOTH
    endpoints — one extra combinable aggregate, no new join.  Exact
    64-bit integers throughout.  max_center_degree mirrors the wedge
    hub cap (documented truncation under skew).

    Returns (node, n_bfly) for nodes in >= 1 butterfly."""
    pairs = neighbor_jaccard(edges, src=src, dst=dst, min_common=2,
                             max_center_degree=max_center_degree)
    # C(common, 2) via shift, not float division: common*(common-1)
    # is even, and a double round-trip loses bits past 2^53
    contrib = F.shiftright(F.col("common") * (F.col("common") - 1), 1) \
        .cast("bigint")
    both = (pairs.select(F.col("n1").alias("node"),
                         contrib.alias("_b"))
            .unionByName(pairs.select(F.col("n2").alias("node"),
                                      contrib.alias("_b"))))
    return (both.groupBy("node")
            .agg(F.sum("_b").cast("bigint").alias("n_bfly"))
            .where(F.col("n_bfly") > 0))


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


def edge_diff(old_edges: DataFrame, new_edges: DataFrame,
              src: str = "src", dst: str = "dst") -> DataFrame:
    """Snapshot diff between two KG edge sets — the graph analogue of
    crawl.recrawl_stats and the driver of incremental graph
    maintenance (only `added` edges need embedding/index updates,
    `removed` need tombstones, `kept` reuse their lineage
    partition): per-status distinct-edge counts.

    One union + ONE combinable aggregate keyed by the (src, dst)
    edge — no join: each side contributes a presence bit and max()
    merges them, so the full-outer-join formulation's shuffle of two
    corpus-scale relations collapses into a single hash aggregate
    (same trick as merge_crawls)."""
    o = (old_edges.select(F.col(src).alias("src"),
                          F.col(dst).alias("dst")).distinct()
         .select("src", "dst", F.lit(1).alias("o"), F.lit(0).alias("n")))
    n = (new_edges.select(F.col(src).alias("src"),
                          F.col(dst).alias("dst")).distinct()
         .select("src", "dst", F.lit(0).alias("o"), F.lit(1).alias("n")))
    u = (o.unionByName(n).groupBy("src", "dst")
         .agg(F.max("o").alias("in_old"), F.max("n").alias("in_new")))
    status = (F.when(F.col("in_old") == 0, "added")
              .when(F.col("in_new") == 0, "removed")
              .otherwise("kept"))
    return (u.select(status.alias("status"))
            .groupBy("status")
            .agg(F.count("*").cast("bigint").alias("n_edges")))


def negative_samples(edges: DataFrame, k: int = 2,
                     src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic corrupted-tail negative sampling — the training-
    pair generator for KG-embedding objectives (TransE-family): for
    every true (src, dst) edge emit up to k (src, dst_neg, i) rows
    where dst_neg is a content-hash-chosen node, with TRUE edges
    filtered out (no false negatives).

    Determinism contract: dst_neg = node at dense rank
    md5(src:dst:i) % n_nodes in the sorted node dimension — the same
    sample set on any run, engine, or cluster size (a rand()-based
    sampler can never be oracle-checked or resumed).  Collisions with
    a real edge are DROPPED, not resampled, so some edges yield < k
    negatives (documented; resampling would need data-dependent
    iteration).  Self-corruptions (dst_neg == src) are kept when not
    a true edge — TransE scores them like any negative.

    Scale shape: the node dimension gets a dense rank via ONE window
    over the corpus-bounded node vocabulary (dimension-sized, same
    caveat as crawl_budget's rank); candidates are edges x k
    (explode of a k-literal array — narrow), resolved to node ids by
    a JOIN on the rank key against the node dimension (broadcast —
    vocabulary-sized), and de-falsed by ONE left-anti join on the
    true edge set, shuffled on the same (src, dst) key the edge
    table already carries."""
    from pyspark.sql import Window
    from ..functions.hashing import md5_int
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    nodes = nodes.withColumn(
        "rid", F.row_number().over(Window.orderBy("node")) - 1)
    n_nodes = nodes.agg(F.count("*").alias("n"))
    cand = (e.select("src", "dst",
                     F.explode(F.array(*[F.lit(i) for i in range(k)]))
                     .alias("i"))
            .crossJoin(F.broadcast(n_nodes))
            .select("src", "dst", "i",
                    F.pmod(md5_int(F.concat_ws(":", F.col("src"),
                                               F.col("dst"),
                                               F.col("i"))),
                           F.col("n")).alias("rid")))
    cand = (cand.join(F.broadcast(nodes), "rid")
            .select("src", "dst", "i", F.col("node").alias("dst_neg")))
    return (cand.join(e.select("src", F.col("dst").alias("dst_neg"))
                      .distinct(),
                      ["src", "dst_neg"], "left_anti")
            .select("src", "dst", "i", "dst_neg"))


def hits_int(edges: DataFrame, iters: int = 2, scale: int = 1_000_000,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """Integer fixed-point HITS (hubs & authorities) over a directed
    edge list — the OTHER classic web-link eigenvector pair: a page is
    a good HUB when it points at good authorities, a good AUTHORITY
    when good hubs point at it.  For a crawl corpus this separates
    directory/portal pages (hubs) from canonical content pages
    (authorities), which PageRank's single score conflates.

        a0(v) = h0(v) = scale
        h'(u) = sum_{u->v} a(v)        (raw, exact integer sum)
        a'(v) = sum_{u->v} h'(u)
        then each vector is renormalized to max = scale:
        x(v) = (x_raw(v) * scale) div max_u x_raw(u)

    Max-normalization (not L2) keeps every step in 64-bit integer
    arithmetic: sums and max are order-independent and floor division
    is deterministic, so the unrolled-SQL oracle hash-matches —
    float HITS never could.  Overflow bound: raw sums <= deg_max *
    scale, times scale for the renormalize ~ deg_max * 1e12 << 2^63
    for any real degree distribution.

    Scale shape per iteration: two join+partial-agg passes (one per
    vector) plus two tiny single-row max aggregates that Spark
    collapses to a broadcast.  UNLIKE pagerank_int, the lazy unroll
    is NOT bounded-linear here: hub depends on auth and auth on the
    new hub within one iteration, so the un-truncated plan replicates
    the edge subtree ~4^iters times (measured: a 9k-line formatted
    plan at iters=2 vs pagerank's 1.2k).  The vectors are therefore
    localCheckpoint'ed every iteration — same per-round pattern as
    canonicalize.connected_components — which makes each iteration's
    plan constant-size."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .localCheckpoint(eager=True))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct()
             .localCheckpoint(eager=True))
    auth = nodes.withColumn("a", F.lit(scale).cast("bigint"))
    hub = nodes.withColumn("h", F.lit(scale).cast("bigint"))
    for _ in range(iters):
        h_raw = (e.join(auth.withColumnRenamed("node", "dst"), "dst")
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("a").alias("hr")))
        h_max = h_raw.agg(F.max("hr").alias("hmx"))
        hub = (nodes.join(h_raw, "node", "left")
               .crossJoin(F.broadcast(h_max))
               .select("node",
                       F.expr(f"(coalesce(hr, 0) * {scale}) div hmx")
                       .cast("bigint").alias("h"))
               .localCheckpoint(eager=True))
        a_raw = (e.join(hub.withColumnRenamed("node", "src"), "src")
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("h").alias("ar")))
        a_max = a_raw.agg(F.max("ar").alias("amx"))
        auth = (nodes.join(a_raw, "node", "left")
                .crossJoin(F.broadcast(a_max))
                .select("node",
                        F.expr(f"(coalesce(ar, 0) * {scale}) div amx")
                        .cast("bigint").alias("a"))
                .localCheckpoint(eager=True))
    return (auth.join(hub, "node")
            .select("node", F.col("a").alias("authority"),
                    F.col("h").alias("hub")))


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


def incremental_components(labels_old: DataFrame, delta_edges: DataFrame,
                           id_col: str = "id", comp_col: str = "comp",
                           src: str = "src", dst: str = "dst",
                           max_rounds: int = 12) -> DataFrame:
    """Warm-start connected components from a previous run's labels
    plus an edge DELTA — the daily-graph-delta path (the CC analogue
    of warm-start PageRank, q159): yesterday's labeling of a 100 TB
    graph is a materialized table, today's crawl adds edges, and
    re-propagating min-labels across every settled vertex repays
    nothing.  Instead, propagation runs on the CONTRACTED graph —
    each old component collapsed to its label, delta edges mapped to
    component endpoints — whose size is bounded by the DELTA (touched
    components), not the corpus; members are relabeled by one
    broadcast-sized mapping join at the end.

    EXACT equivalence contract (oracled, q175): old labels are
    min-vertex-id per component (what connected_components emits), so
    the contracted min-propagation yields precisely the full-recompute
    labeling of (old ∪ delta) — min over merged old components = min
    vertex id over the merged vertex set; delta-only vertices enter as
    their own singleton components.

    Raises RuntimeError if the contracted graph has not reached its
    fixpoint within max_rounds (the SCC discipline: never return a
    partially-merged labeling) — its diameter is the number of OLD
    components chained by the delta, so 12 rounds covers any sane
    daily delta; raise max_rounds for pathological chains.

    Returns (id, comp) for every vertex of old ∪ delta."""
    lab = labels_old.select(F.col(id_col).alias("id"),
                            F.col(comp_col).alias("comp"))
    de = (delta_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
          .where(F.col("u") != F.col("v")))
    # map delta endpoints to old component labels (unknown -> own id)
    lu = lab.withColumnRenamed("id", "u").withColumnRenamed("comp", "cu")
    lv = lab.withColumnRenamed("id", "v").withColumnRenamed("comp", "cv")
    mapped = (de.join(lu, "u", "left").join(lv, "v", "left")
              .select(F.coalesce("cu", "u").alias("ca"),
                      F.coalesce("cv", "v").alias("cb")))
    ce = (mapped.where(F.col("ca") != F.col("cb"))
          .select("ca", "cb").distinct())
    sym = (ce.unionByName(ce.select(F.col("cb").alias("ca"),
                                    F.col("ca").alias("cb")))
           .distinct().localCheckpoint(eager=True))
    cl = (sym.select(F.col("ca").alias("cid"))
          .distinct()
          .select("cid", F.col("cid").alias("newc"))
          .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_rounds):
        msgs = (sym.join(cl.withColumnRenamed("cid", "ca"), "ca")
                .select(F.col("cb").alias("cid"), "newc"))
        nxt = (cl.unionByName(msgs)
               .groupBy("cid").agg(F.min("newc").alias("newc"))
               .localCheckpoint(eager=True))
        changed = (nxt.alias("n").join(cl.alias("o"), "cid")
                   .where(F.col("n.newc") != F.col("o.newc"))
                   .limit(1).count())
        cl = nxt
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "incremental_components: contracted-graph min-propagation "
            "did not converge within max_rounds — returning now would "
            "split a merged component; raise max_rounds")
    # relabel: old members through the touched-component mapping,
    # plus delta-only vertices (their singleton 'component' is the id)
    m = cl.withColumnRenamed("cid", "comp")
    old_out = (lab.join(m, "comp", "left")
               .select("id", F.coalesce("newc", "comp").alias("comp")))
    dv = (de.select(F.col("u").alias("id"))
          .unionByName(de.select(F.col("v").alias("id")))
          .distinct()
          .join(lab.select("id"), "id", "left_anti"))
    new_out = (dv.join(m.withColumnRenamed("comp", "id"), "id", "left")
               .select("id", F.coalesce("newc", "id").alias("comp")))
    return old_out.unionByName(new_out)


def resolve_redirects(redirects: DataFrame, src_col: str = "src",
                      dst_col: str = "dst",
                      rounds: int = 6) -> DataFrame:
    """Redirect/alias-chain resolution by pointer doubling: given a
    FUNCTIONAL edge set (each src has exactly one redirect target —
    the shape of wiki redirect dumps, URL-shortener tables, and the
    alias maps entity canonicalization emits), flatten every chain to
    its terminal canonical node.  The standard log-rounds trick:
    each round composes the map with itself (ptr[u] <- ptr[ptr[u]]),
    so `rounds` rounds resolve chains up to 2^rounds deep — 6 rounds
    cover depth 64, vs 64 sequential joins for naive following.

    Returns (src, canonical, hops, resolved): resolved = 0 marks
    nodes whose pointer still lands on a redirect after 2^rounds
    compositions — a cycle (a<->b redirect vandalism) or an
    over-deep chain; `canonical` is then the position after exactly
    2^rounds steps (deterministic, and what the SQL twin computes).
    hops = true chain depth for resolved nodes.

    Scale shape: one self-equi-join per round on the current target
    key — log2(max_depth) shuffles TOTAL, each over the (shrinking-
    payload) pointer table; localCheckpoint per round keeps the
    unrolled plan flat (the pagerank_int driver-OOM lesson).  The
    final canonical-or-not flag is one more join against the src key
    set.  No window, no driver-side iteration over rows."""
    ptr = (redirects.select(F.col(src_col).alias("u"),
                            F.col(dst_col).alias("v"),
                            F.lit(1).cast("bigint").alias("hops"))
           .localCheckpoint(eager=True))
    srcs = ptr.select(F.col("u").alias("_s")).distinct()
    for _ in range(rounds):
        nxt = ptr.select(F.col("u").alias("_nu"),
                         F.col("v").alias("_nv"),
                         F.col("hops").alias("_nh"))
        ptr = (ptr.join(nxt, ptr["v"] == nxt["_nu"], "left")
               .select(F.col("u"),
                       F.coalesce(F.col("_nv"), F.col("v")).alias("v"),
                       (F.col("hops")
                        + F.coalesce(F.col("_nh"), F.lit(0)))
                       .alias("hops"))
               .localCheckpoint(eager=True))
    out = (ptr.join(srcs, ptr["v"] == srcs["_s"], "left")
           .select(F.col("u").alias("src"),
                   F.col("v").alias("canonical"),
                   F.col("hops").cast("bigint").alias("hops"),
                   F.col("_s").isNull().cast("int").alias("resolved")))
    return out


def graph_moments(edges: DataFrame, src_col: str = "src",
                  dst_col: str = "dst") -> DataFrame:
    """One-row structural sheet of a directed graph: edge count,
    reciprocity, and the exact integer moments of the per-edge
    (outdeg(src), indeg(dst)) degree pairing — the inputs to degree
    assortativity (Newman 2002).  Pearson r is a float RATIO of these
    integer moments, so the sheet stays hash-exact cross-engine and
    the analyst divides offline:

        r = (n*Sxy - Sx*Sy) / sqrt((n*Sx2 - Sx^2) * (n*Sy2 - Sy^2))

    reciprocity_ppm = 1e6 * |{(u,v) : (v,u) also an edge}| div n_edges
    (directed count — a fully symmetric graph scores 1e6).  Self-loops
    count as their own reverse by this definition.

    Scale shape: edges dedup once (persisted — four consumers:
    two degree aggregates, the moments join, the reciprocity join);
    degrees are node-keyed combinable aggregates joined back on the
    edge endpoints; reciprocity is the reversed-pair hash join
    co-partitioned on the pair key (same shape as
    ontology.inverse_predicates, never all-pairs).  Output is ONE row.
    """
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .distinct().persist())
    out_deg = e.groupBy("src").agg(F.count("*").alias("xd"))
    in_deg = e.groupBy("dst").agg(F.count("*").alias("yd"))
    m = (e.join(out_deg, "src").join(in_deg, "dst")
         .agg(F.count("*").cast("bigint").alias("n_edges"),
              F.sum("xd").cast("bigint").alias("sum_x"),
              F.sum("yd").cast("bigint").alias("sum_y"),
              F.sum(F.col("xd") * F.col("yd")).cast("bigint")
              .alias("sum_xy"),
              F.sum(F.col("xd") * F.col("xd")).cast("bigint")
              .alias("sum_x2"),
              F.sum(F.col("yd") * F.col("yd")).cast("bigint")
              .alias("sum_y2")))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (e.join(rev, ["src", "dst"])
             .agg(F.count("*").cast("bigint").alias("recip_edges")))
    out = (m.crossJoin(F.broadcast(recip))
           .withColumn("recip_ppm",
                       F.expr("(recip_edges * 1000000) div n_edges")
                       .cast("bigint")))
    out.unpersist_input = e.unpersist
    return out


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


def harmonic_centrality(edges: DataFrame, radius: int = 2,
                        roots: DataFrame | None = None,
                        src: str = "src", dst: str = "dst",
                        scale: int = 1000) -> DataFrame:
    """Exact bounded-radius harmonic centrality (Boldi & Vigna 2014):
    for each root, sum of 1/d over nodes at shortest-path distance
    d <= radius, as the integer sum of (scale div d) — cross-engine
    exact, so the unrolled-SQL oracle can hash-match it (unlike the
    HyperBall estimate in `hyperball`, which is the sketch path for
    unbounded radius at 100 TB; this is the exact path for small
    radii / audit subsets).

    ``roots`` (optional one-column "node" DataFrame) restricts which
    sources are expanded — at scale you audit a sampled root set, not
    all nodes; the frontier join filters to those roots BEFORE the
    first expansion, so cost is O(|roots| * ball size), not O(V).

    Scale shape per round: frontier-at-distance-(k-1) joins edges on
    the frontier's endpoint (thin, shrinking key), LEFT ANTI against
    the reached set to keep only first visits, localCheckpoint each
    round (the pagerank_int lineage lesson).  Output: one row per
    root, (root, n_reached, harmonic_milli).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")) \
        .distinct()
    first = e.select(F.col("src").alias("root"),
                     F.col("dst").alias("v"))
    if roots is not None:
        first = first.join(
            F.broadcast(roots.select(F.col("node").alias("root"))),
            "root")
    reached = (first.where(F.col("v") != F.col("root"))
               .withColumn("d", F.lit(1)).localCheckpoint())
    frontier = reached
    for k in range(2, radius + 1):
        nxt = (frontier.join(
            e.withColumnRenamed("src", "v"), "v")
            .select("root", F.col("dst").alias("v"))
            .where(F.col("v") != F.col("root"))
            .distinct()
            .join(reached.select("root", "v"), ["root", "v"],
                  "left_anti")
            .withColumn("d", F.lit(k)).localCheckpoint())
        reached = reached.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return (reached.groupBy("root")
            .agg(F.count("*").cast("bigint").alias("n_reached"),
                 F.sum(F.expr(f"{scale} div d")).cast("bigint")
                 .alias("harmonic_milli")))


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


def bipartiteness_audit(edges: DataFrame, src: str = "src",
                        dst: str = "dst",
                        max_rounds: int = 30) -> DataFrame:
    """Per-component bipartiteness via the DOUBLE COVER: replace each
    undirected edge {u, v} with {u+, v-} and {u-, v+} (node parities
    encoded as 2*id / 2*id+1) and run connected components on the
    cover — a component is bipartite iff its cover splits into TWO
    components (the two sides), while any odd cycle fuses them into
    one.  This turns odd-cycle detection — naively a BFS-parity
    problem, diameter-bound and unrunnable on a 100 TB web graph —
    into two O(log n)-round star-CC jobs (connected_components_star),
    inheriting their convergence signature and
    raise-on-round-exhaustion contract.  Web use: bipartite-ish link
    structures (directory/forum mirrors, some link farms) behave
    pathologically under co-citation and community analyses; this is
    the audit that flags which components those are.

    Returns one row per original component:
    (comp, n_nodes, bipartite) with bipartite 1/0.

    Scale shape: exactly two star-CC runs (the cover doubles edges,
    same O(log n) alternations) + one node-keyed join + one
    combinable per-component aggregate (countDistinct over a
    two-value cover-component key)."""
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col("a") != F.col("b")))
    cc = connected_components_star(e, src="a", dst="b",
                                   max_rounds=max_rounds)
    cover = (e.select((F.col("a") * 2).alias("src"),
                      (F.col("b") * 2 + 1).alias("dst"))
             .unionByName(e.select((F.col("a") * 2 + 1).alias("src"),
                                   (F.col("b") * 2).alias("dst"))))
    cc2 = connected_components_star(cover, max_rounds=max_rounds)
    # attach both cover parities of every node to its original comp
    plus = cc.select("id", "comp", (F.col("id") * 2).alias("cid"))
    minus = cc.select("id", "comp", (F.col("id") * 2 + 1).alias("cid"))
    m = (plus.unionByName(minus)
         .join(cc2.select(F.col("id").alias("cid"),
                          F.col("comp").alias("comp2")), "cid"))
    return (m.groupBy("comp")
            .agg(F.countDistinct("id").cast("bigint").alias("n_nodes"),
                 F.countDistinct("comp2").alias("nc"))
            .select("comp", "n_nodes",
                    F.when(F.col("nc") == 2, 1).otherwise(0)
                    .cast("int").alias("bipartite")))


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


def dag_layers(edges: DataFrame, child: str = "child",
               parent: str = "parent", max_rounds: int = 32,
               count_ancestors: bool = True) -> DataFrame:
    """Taxonomy layering + ancestor closure over a DAG of
    child -> parent edges (the is-a graph a Hearst/WebIsA harvest or
    a category rollup produces): layer(v) = length of the LONGEST
    upward path from v to any root (parentless node), computed by
    Kahn peeling — round r removes exactly the nodes whose every
    parent was already peeled, so roots land in layer 0 and a node
    lands one past its deepest parent.  Rounds = taxonomy depth + 1
    (single digits for real taxonomies), each round one anti-join +
    one zero-out-degree test; peeled/remaining sets are
    localCheckpoint'ed per round (iterative-operator house rule).

    A CYCLE never peels: if active nodes remain after max_rounds
    (or a round peels nothing), raises RuntimeError instead of
    returning partial layers — is-a cycles are harvest noise that
    must surface, not be silently layered (the SCC/MIS discipline).

    count_ancestors additionally computes |ancestors(v)| — the
    transitive-closure row count per node, distinct-counted so
    reconvergent DAG paths (a node reaching the same ancestor two
    ways) count once.  Frontier expansion to fixpoint with the seen
    set anti-join (khop discipline), depth-bound by the same
    max_rounds.  Scale note: the closure PAIR set is O(n x depth x
    branching) — for layering alone pass count_ancestors=False,
    which keeps everything node-sized.

    Returns (node, layer, n_ancestors) — n_ancestors -1 when
    count_ancestors=False."""
    e = (edges.select(F.col(child).alias("c"), F.col(parent).alias("p"))
         .where(F.col("c") != F.col("p"))
         .distinct()
         .localCheckpoint(eager=True))
    nodes = (e.select(F.col("c").alias("node"))
             .unionByName(e.select(F.col("p").alias("node")))
             .distinct())
    act = nodes.localCheckpoint(eager=True)   # not yet layered
    rem = e                                   # edges among active nodes
    layers: list[DataFrame] = []
    r = 0
    while r <= max_rounds:
        if act.limit(1).count() == 0:
            break
        # peel: active nodes with no remaining parent edge
        peel = (act.join(rem.select(F.col("c").alias("node")).distinct(),
                         "node", "left_anti")
                .localCheckpoint(eager=True))
        if peel.limit(1).count() == 0:
            raise RuntimeError(
                "dag_layers: no parentless node among remaining — "
                "the input has a cycle")
        layers.append(
            peel.select("node", F.lit(r).cast("int").alias("layer")))
        act = act.join(peel, "node", "left_anti").localCheckpoint(eager=True)
        rem = (rem.join(peel.select(F.col("node").alias("p")), "p",
                        "left_anti")
               .localCheckpoint(eager=True))
        r += 1
    if act.limit(1).count() != 0:
        raise RuntimeError(
            "dag_layers: max_rounds exhausted with nodes still "
            "unlayered — deeper taxonomy than max_rounds or a cycle")
    if not layers:  # edgeless input: no nodes, same schema
        return act.select("node", F.lit(0).cast("int").alias("layer"),
                          F.lit(0).cast("bigint").alias("n_ancestors"))
    lay = layers[0]
    for p in layers[1:]:
        lay = lay.unionByName(p)
    if not count_ancestors:
        return lay.select("node", "layer",
                          F.lit(-1).cast("bigint").alias("n_ancestors"))
    # ancestor closure: frontier expansion with distinct + seen anti-join
    seen = e.select(F.col("c").alias("node"), F.col("p").alias("anc")) \
        .localCheckpoint(eager=True)
    frontier = seen
    for _ in range(max_rounds):
        if frontier.limit(1).count() == 0:
            break
        nxt = (frontier.join(e.select(F.col("c").alias("anc"),
                                      F.col("p").alias("anc2")), "anc")
               .select("node", F.col("anc2").alias("anc"))
               .distinct()
               .join(seen, ["node", "anc"], "left_anti")
               .localCheckpoint(eager=True))
        seen = seen.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    if frontier.limit(1).count() != 0:
        raise RuntimeError(
            "dag_layers: ancestor closure did not reach fixpoint in "
            "max_rounds")
    cnt = seen.groupBy("node").agg(
        F.countDistinct("anc").cast("bigint").alias("n_ancestors"))
    return (lay.join(cnt, "node", "left")
            .select("node", "layer",
                    F.coalesce(F.col("n_ancestors"), F.lit(0))
                    .cast("bigint").alias("n_ancestors")))


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


def sssp_int(edges: DataFrame, sources: DataFrame,
             max_rounds: int = 15, src: str = "src", dst: str = "dst",
             weight: str = "w", node: str = "node") -> DataFrame:
    """Multi-source single-shortest-path with integer edge weights
    (distributed Bellman-Ford): dist(v) = min over seed set of the
    cheapest weighted path — the crawl-latency / hop-cost distance a
    scheduler runs from its seed hosts, and the weighted complement
    of harmonic_centrality's unit-BFS.  Per round, relax every edge
    out of the current table and keep the per-node min of {old
    distance} ∪ {predecessor distance + weight}:

        d_k(v) = min(d_{k-1}(v), min over (u,v,w): d_{k-1}(u) + w)

    — one join + one combinable min per round, monotone
    non-increasing, localCheckpoint'ed (iterative house rule).
    Rounds needed = longest shortest path in EDGE COUNT, so
    negative-free weights converge within the unweighted diameter;
    raises RuntimeError if the table still changes after max_rounds
    (the SCC/MIS discipline — a truncated Bellman-Ford silently
    overstates distances).  The oracle unrolls the same recurrence;
    rounds past the fixpoint are no-ops, so a fixed shared budget
    hash-matches.

    Returns (node, dist) for every node reachable from the seed set
    (seeds at 0)."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                      F.col(weight).cast("bigint").alias("w"))
         .where(F.col("src") != F.col("dst"))
         .groupBy("src", "dst").agg(F.min("w").alias("w"))
         .localCheckpoint(eager=True))
    dist = (sources.select(F.col(node).alias("node")).distinct()
            .select("node", F.lit(0).cast("bigint").alias("dist"))
            .localCheckpoint(eager=True))
    for _r in range(max_rounds):
        relax = (dist.join(e.withColumnRenamed("src", "node"), "node")
                 .select(F.col("dst").alias("node"),
                         (F.col("dist") + F.col("w")).alias("dist")))
        nxt = (dist.unionByName(relax)
               .groupBy("node").agg(F.min("dist").alias("dist"))
               .localCheckpoint(eager=True))
        # converged when no node's distance improved and no new node
        changed = (nxt.join(dist.withColumnRenamed("dist", "old"),
                            "node", "left")
                   .where(F.col("old").isNull()
                          | (F.col("dist") < F.col("old")))
                   .limit(1).count())
        dist = nxt
        if changed == 0:
            return dist
    raise RuntimeError(
        "sssp_int: still relaxing after max_rounds — raise max_rounds "
        "(longest shortest path exceeds the budget)")


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
    fixed-threshold peel (q94: fixed k; this: the threshold tracks
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


def dag_transitive_reduce(edges: DataFrame, child: str = "child",
                          parent: str = "parent",
                          max_rounds: int = 12) -> DataFrame:
    """Exact transitive reduction marking for a DAG: an is-a edge is
    REDUNDANT iff its parent is also reachable through a path of two
    or more edges — the standard cleanup after a Hearst-style
    hypernym harvest (q186) or a taxonomy merge, where "part is-a
    root" shortcuts coexist with the real chain and bloat the
    closure dag_layers (q187) computes.  Marks rather than drops, so
    the caller keeps both the cleaned edge set and the audit count.

    Reachability is the bounded-depth closure: extend by one hop per
    round (frontier join + union-distinct, localCheckpoint'ed per
    round — iterative house rule) until the pair count stops
    growing.  A DAG converges within its depth; a cycle ALSO
    converges (its closure is finite), so cycle detection is
    explicit: any self-reachable pair in the converged closure
    raises (the dag_layers never-mislabel discipline — on a cyclic
    input every cycle edge would be spuriously "redundant").
    Redundant = edge composed with any path, i.e. paths of length
    >= 2, one extra join.  Closure size is bounded by depth x edges
    — taxonomy-shaped inputs (shallow, fan-in to a root) stay
    small; do not run this on a general deep graph.

    Returns (child, parent, redundant int 0/1)."""
    e = (edges.select(F.col(child).alias("c"), F.col(parent).alias("p"))
         .where(F.col("c") != F.col("p"))
         .distinct()
         .localCheckpoint(eager=True))
    reach = e
    prev = reach.count()
    converged = False
    for _ in range(max_rounds):
        ext = (reach.join(e.select(F.col("c").alias("p"),
                                   F.col("p").alias("p2")), "p")
               .select("c", F.col("p2").alias("p")))
        reach = (reach.unionByName(ext).distinct()
                 .localCheckpoint(eager=True))
        cur = reach.count()
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            "dag_transitive_reduce: closure still growing after "
            "max_rounds — depth exceeds the budget")
    if reach.where(F.col("c") == F.col("p")).limit(1).count() != 0:
        raise RuntimeError(
            "dag_transitive_reduce: input contains a cycle — "
            "reduction on cyclic edges would mark every cycle edge "
            "redundant; break the cycle upstream (dag_layers locates "
            "it)")
    two_plus = (e.select(F.col("c"), F.col("p").alias("mid"))
                .join(reach.select(F.col("c").alias("mid"),
                                   F.col("p").alias("far")), "mid")
                .select("c", F.col("far").alias("p"))
                .distinct())
    return (e.join(two_plus.select("c", "p",
                                   F.lit(1).alias("_r")),
                   ["c", "p"], "left")
            .select(F.col("c").alias(child), F.col("p").alias(parent),
                    F.coalesce("_r", F.lit(0)).cast("int")
                    .alias("redundant")))


def mis_coloring(edges: DataFrame, src: str = "src", dst: str = "dst",
                 max_colors: int = 8,
                 mis_rounds: int = 12) -> DataFrame:
    """Greedy distributed graph coloring by iterated MIS (Luby's
    reduction): color c = a maximal independent set of the still-
    uncolored subgraph, repeated until every node is colored — the
    conflict-free SCHEDULE of a 100 TB maintenance plan (color =
    wave; no two adjacent entity-merge / partition-compaction jobs
    run in the same wave; maximal_matching waves pairs, this waves
    NODES), and the classic O(Delta log n) parallel coloring.  Each
    per-color MIS is the q177-certified deterministic Luby kernel
    (md5 priorities, bit-stable trajectory), so the COLOR assignment
    is a pure function of the edge set.

    Nodes isolated in the remaining subgraph (all neighbors already
    colored) have no surviving edges, so they join the current color
    unconditionally — the anti-join complement of the MIS's edge
    universe.

    Raises RuntimeError when max_colors is exhausted with nodes
    still uncolored (greedy needs at most Delta+1 colors; budget =
    the never-truncate discipline), and propagates the inner MIS
    budget raise.

    Returns (node, color), 1-based colors."""
    e0 = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                       F.greatest(F.col(src), F.col(dst)).alias("b"))
          .where(F.col("a") != F.col("b"))
          .distinct()
          .localCheckpoint(eager=True))
    remaining = (e0.select(F.col("a").alias("node"))
                 .unionByName(e0.select(F.col("b").alias("node")))
                 .distinct()
                 .localCheckpoint(eager=True))
    cur = e0
    parts: list[DataFrame] = []
    for c in range(1, max_colors + 1):
        if remaining.limit(1).count() == 0:
            break
        edge_nodes = (cur.select(F.col("a").alias("node"))
                      .unionByName(cur.select(F.col("b").alias("node")))
                      .distinct())
        isolated = remaining.join(edge_nodes, "node", "left_anti")
        mis = maximal_independent_set(
            cur.select(F.col("a").alias("src"),
                       F.col("b").alias("dst")),
            max_rounds=mis_rounds).select("node")
        colored = (mis.unionByName(isolated).distinct()
                   .localCheckpoint(eager=True))
        parts.append(colored.select(
            "node", F.lit(c).cast("int").alias("color")))
        remaining = (remaining.join(colored, "node", "left_anti")
                     .localCheckpoint(eager=True))
        cur = (cur.join(colored.select(F.col("node").alias("a")),
                        "a", "left_anti")
               .join(colored.select(F.col("node").alias("b")),
                     "b", "left_anti")
               .localCheckpoint(eager=True))
    if remaining.limit(1).count() != 0:
        raise RuntimeError(
            "mis_coloring: max_colors exhausted with nodes uncolored "
            "— raise max_colors (greedy needs at most Delta+1)")
    if not parts:  # edgeless input: nothing to color
        return remaining.select(
            "node", F.lit(0).cast("int").alias("color"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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


def node2vec_walks(edges: DataFrame, walk_len: int = 3,
                   walks_per_node: int = 1, wp: int = 1, w1: int = 4,
                   wq: int = 2, seed: str = "n2v",
                   src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic node2vec walk corpus (Grover & Leskovec 2016):
    the second-order biased form of random_walks — from node v with
    previous node u, candidate x is weighted by its distance to u:

        w(x) = wp  if x == u                (return,   1/p)
               w1  if u->x is an edge       (BFS-ish,  1  )
               wq  otherwise                (DFS-ish,  1/q)

    integer weights instead of the paper's 1/p, 1, 1/q floats (set
    wp=1, w1=4, wq=2 for p=4, q=2).  Step 1 is uniform (no previous
    node), as in the reference implementation.  The RNG is the house
    content hash: r = md5(seed:start:wid:t:v) mod total_weight walks
    the candidate list's cumulative weights in id order — the same
    walk corpus at any cluster size and in the unrolled DuckDB twin.

    Scale shape: per step, one join frontier x adjacency (keyed on
    the current node), one LEFT join against the edge set keyed on
    (prev, candidate) for the distance-1 flag, and one per-frontier-
    row cumulative window (partition size = out-degree — the same
    hub bound as random_walks' adjacency index; cap hubs upstream).
    Frontier localCheckpointed per step (the kg_entity_rank lesson).
    Sinks end walks early.

    Returns (start, wid, step, node), step 0 = the start row."""
    adj = (edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
           .where(F.col("node") != F.col("nbr")).distinct())
    w = Window.partitionBy("node").orderBy("nbr")
    adjidx = (adj.withColumn("_i", F.row_number().over(w) - 1)
              .localCheckpoint())
    deg = adjidx.groupBy("node").agg(F.count("*").alias("_deg"))
    prevadj = adjidx.select(F.col("node").alias("prev"),
                            F.col("nbr").alias("_cand"),
                            F.lit(1).alias("_padj"))
    nodes = (edges.select(F.col(src).alias("node"))
             .unionByName(edges.select(F.col(dst).alias("node")))
             .distinct())
    frontier = nodes.select(
        F.col("node").alias("start"),
        F.explode(F.array(*[F.lit(i) for i in range(walks_per_node)]))
        .alias("wid"),
        F.lit(None).cast(nodes.schema["node"].dataType).alias("prev"),
        F.col("node"))
    out = frontier.select("start", "wid", F.lit(0).alias("step"),
                          "node")

    def _r(step):
        return md5_int(F.concat_ws(
            ":", F.lit(seed), F.col("start").cast("string"),
            F.col("wid").cast("string"), F.lit(str(step)),
            F.col("node").cast("string")))
    # step 1: uniform over neighbors (no previous node yet)
    frontier = (frontier.join(deg, "node")
                .withColumn("_pick", F.pmod(_r(1), F.col("_deg")))
                .join(adjidx.select("node", F.col("_i").alias("_pick"),
                                    F.col("nbr").alias("_next")),
                      ["node", "_pick"])
                .select("start", "wid", F.col("node").alias("prev"),
                        F.col("_next").alias("node"))
                .localCheckpoint())
    out = out.unionByName(
        frontier.select("start", "wid", F.lit(1).alias("step"), "node"))
    for step in range(2, walk_len + 1):
        cand = (frontier.join(
            adjidx.select("node", F.col("nbr").alias("_cand"),
                          "_i"), "node")
            .join(prevadj, ["prev", "_cand"], "left"))
        wexpr = (F.when(F.col("_cand") == F.col("prev"), F.lit(wp))
                 .when(F.col("_padj") == 1, F.lit(w1))
                 .otherwise(F.lit(wq)).cast("bigint"))
        pw = Window.partitionBy("start", "wid")
        cum_w = pw.orderBy("_i").rowsBetween(
            Window.unboundedPreceding, 0)
        cand = (cand.withColumn("_w", wexpr)
                .withColumn("_tw", F.sum("_w").over(pw))
                .withColumn("_cum", F.sum("_w").over(cum_w))
                .withColumn("_r", F.pmod(_r(step), F.col("_tw"))))
        frontier = (cand.where((F.col("_r") >= F.col("_cum")
                                - F.col("_w"))
                               & (F.col("_r") < F.col("_cum")))
                    .select("start", "wid",
                            F.col("node").alias("prev"),
                            F.col("_cand").alias("node"))
                    .localCheckpoint())
        out = out.unionByName(
            frontier.select("start", "wid",
                            F.lit(step).alias("step"), "node"))
    return out.select(F.col("start").cast("bigint").alias("start"),
                      F.col("wid").cast("int").alias("wid"),
                      F.col("step").cast("int").alias("step"),
                      F.col("node").cast("bigint").alias("node"))


def katz_int(edges: DataFrame, iters: int = 3,
             scale: int = 1_000_000, atten_den: int = 2,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """Integer Katz centrality — attenuated walk counts INTO each
    node:

        k0(v) = scale
        k'(v) = scale + (sum_{u->v} k(u)) div atten_den

    (beta = 1/atten_den).  The un-normalized member of the rank
    family: PageRank (q40) divides each node's mass over its
    out-edges, so a hub's endorsement is diluted; Katz counts every
    attenuated walk whole, so prolific linkers boost ALL their
    targets — the right semantics for influence/threat propagation
    where linking is not a budget.  All 64-bit integer floor
    arithmetic, bit-exact vs the unrolled-SQL twin.

    Divergence bound: values grow ~ (max_in_degree / atten_den) per
    iteration; with iters fixed at 3 the bound is
    scale * (deg_max/atten_den)^3 — int64-safe to deg_max ~ 5e4 at
    the defaults.  Raise atten_den (stronger attenuation) on
    heavier-tailed graphs; the operator asserts nothing because the
    overflow surface depends on the degree sequence the CALLER
    knows.  Same per-iteration shape as pagerank_int (one join +
    one combinable groupBy); localCheckpoint deep inputs first."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    k = nodes.withColumn("k", F.lit(scale).cast("bigint"))
    for _ in range(iters):
        inmass = (e.join(k.withColumnRenamed("node", "src"), "src")
                  .groupBy(F.col("dst").alias("node"))
                  .agg(F.sum("k").alias("m")))
        k = (nodes.join(inmass, "node", "left")
             .select("node",
                     (F.lit(scale)
                      + F.expr(f"coalesce(m, 0) div {atten_den}"))
                     .cast("bigint").alias("k")))
    return k


def robustness_curve(pairs: DataFrame,
                     removal_pcts: tuple = (0, 10, 20, 40),
                     a: str = "a", b: str = "b",
                     max_rounds: int = 20,
                     rank_by: str = "degree",
                     salt: str = "rrm:") -> DataFrame:
    """Targeted-attack robustness curve (Albert, Jeong & Barabasi
    2000): remove the top pct% highest-degree nodes and measure what
    survives — largest component, edge count, component count — per
    removal level.  The infrastructure-audit complement of the
    centrality family: q40/q218 say who MATTERS, this says how fast
    the graph SHATTERS when exactly those nodes go (scale-free
    graphs survive random failure but crumble under hub attack; a
    flat curve here means the crawl/KG connectivity has no
    single-host dependency).

    Input is a canonical undirected pair list (a < b).
    rank_by="degree" is the targeted attack; rank_by="random"
    removes md5-ranked nodes instead — the Albert-Barabasi CONTRAST:
    a heavy-tailed graph shrugs off random failure at removal
    levels where the hub attack has already shattered it (q226
    runs both on one graph).  Removal
    rank = (degree desc, node asc) over the NODE DIMENSION (one
    dimension-sized window, the LPA dense-relabel precedent — never
    a corpus-sized sort); per level, surviving edges anti-join the
    removed set on both endpoints and components come from
    connected_components_star (O(log n) rounds, budget-raising).
    Nodes whose every neighbor was removed survive as singleton
    components and are counted as such.

    Scale shape: len(removal_pcts) independent CC runs over
    shrinking edge sets; each is star-CC's alternation loop with
    per-round localCheckpoints.  Returns one row per level:
    (pct_removed, n_removed, n_nodes_left, n_edges_left,
    largest_cc, n_components)."""
    e = pairs.select(F.col(a).alias("a"), F.col(b).alias("b")) \
        .where(F.col(a) != F.col(b)).distinct().localCheckpoint()
    sym = e.unionByName(e.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("deg"))
    if rank_by == "degree":
        order = [F.col("deg").desc(), F.col("node").asc()]
    elif rank_by == "random":
        order = [md5_int(F.col("node").cast("string"), salt=salt),
                 F.col("node").asc()]
    else:
        raise ValueError(f"rank_by must be degree|random: {rank_by}")
    rk = (deg.withColumn(
        "rk", F.row_number().over(Window.orderBy(*order)))
        .localCheckpoint())
    n = rk.count()
    out = None
    for pct in removal_pcts:
        k = (n * pct) // 100
        removed = rk.where(F.col("rk") <= k).select("node")
        kept = (e.join(removed.withColumnRenamed("node", "a"),
                       "a", "left_anti")
                .join(removed.withColumnRenamed("node", "b"),
                      "b", "left_anti"))
        cc = connected_components_star(
            kept.select(F.col("a").alias("src"),
                        F.col("b").alias("dst")),
            max_rounds=max_rounds)
        sizes = cc.groupBy("comp").agg(F.count("*").alias("sz"))
        stats = (sizes.agg(
            F.coalesce(F.max("sz"), F.lit(0)).alias("mx"),
            F.count("*").alias("ncc"),
            F.coalesce(F.sum("sz"), F.lit(0)).alias("in_cc"))
            .crossJoin(kept.agg(F.count("*").alias("ne"))))
        row = stats.select(
            F.lit(pct).cast("int").alias("pct_removed"),
            F.lit(k).cast("bigint").alias("n_removed"),
            F.lit(n - k).cast("bigint").alias("n_nodes_left"),
            F.col("ne").cast("bigint").alias("n_edges_left"),
            # all-neighbors-removed survivors are singleton comps
            F.greatest(F.col("mx"),
                       F.when(F.lit(n - k) > F.col("in_cc"),
                              F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint").alias("largest_cc"),
            (F.col("ncc") + F.lit(n - k) - F.col("in_cc"))
            .cast("bigint").alias("n_components"))
        out = row if out is None else out.unionByName(row)
    return out
