"""Ontology / schema induction over a triple table.

A web-scale KG doesn't get its schema handed to it: predicate
semantics are INDUCED from the extracted triples.  Three standard
passes, each a combinable aggregate plus dimension-sized joins:

* **predicate functionality** (PARIS, Suchanek et al. VLDB 2012 §4):
  fun(p) = #distinct subjects / #distinct (subj, obj) pairs — 1.0
  means p is a function of its subject (``born_in``), low values mean
  many-valued (``links_to``).  Inverse functionality symmetrically on
  objects.  Drives alias-merge safety (only inverse-functional
  predicates identify entities) and truth-finding eligibility
  (q136 adjudicates only single-valued predicates).

* **domain/range induction** (Knowledge-Vault-style type constraints):
  per predicate, the modal subject type and modal object type with
  support in ppm — the constraint table extraction validators check
  new triples against.

* **inverse-predicate detection**: predicate pairs (p, q) whose pair
  sets mirror each other — p(a,b) <=> q(b,a) — scored by Jaccard over
  the directed pair sets.  The schema-alignment signal PARIS uses to
  merge relations across sources; p == q rows flag SYMMETRIC
  predicates.

All scores are integer ppm fixed point, so every pass has a
hash-exact DuckDB twin.  This generalizes the reference's per-category
count accumulators (python_mecab_ner/service/mecab_category_storage.py
— category ladders are its only schema) to predicate-level statistics.

Scale shape: functionality is one grouping-sets-free aggregate per
predicate (the count-distinct pair expands the exchange 2x — bounded,
predicate cardinality is tiny); domain/range joins the corpus-sized
triple table to a broadcast type dimension then aggregates to
(pred, type) rows; inverse detection joins the distinct pair set to
its own reversal ON THE PAIR KEY — a co-partitioned hash join, never
all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000


def predicate_functionality(triples: DataFrame, pred_col: str = "pred",
                            subj_col: str = "subj",
                            obj_col: str = "obj") -> DataFrame:
    """Per predicate: distinct-pair count, distinct subject/object
    counts, and PARIS functionality / inverse functionality in ppm
    (1e6 * n_subj div n_pairs — floor, so exactly 1e6 only for a
    true function).  Duplicate triples (multiple witness pages)
    collapse first; the output is a predicate-cardinality dimension."""
    pairs = (triples.select(F.col(pred_col).alias("pred"),
                            F.col(subj_col).alias("subj"),
                            F.col(obj_col).alias("obj"))
             .distinct())
    return (pairs.groupBy("pred")
            .agg(F.count("*").alias("n_pairs"),
                 F.countDistinct("subj").alias("n_subj"),
                 F.countDistinct("obj").alias("n_obj"))
            .select("pred",
                    F.col("n_pairs").cast("bigint").alias("n_pairs"),
                    F.col("n_subj").cast("bigint").alias("n_subj"),
                    F.col("n_obj").cast("bigint").alias("n_obj"),
                    F.expr(f"(n_subj * {PPM}) div n_pairs")
                    .cast("bigint").alias("func_ppm"),
                    F.expr(f"(n_obj * {PPM}) div n_pairs")
                    .cast("bigint").alias("inv_func_ppm")))


def _modal_type(pairs: DataFrame, node_col: str, types: DataFrame,
                prefix: str) -> DataFrame:
    """Per pred: modal type of ``node_col`` with ppm support.
    Deterministic tie-break: among equal-count types the
    lexicographically smallest wins (min over a dimension-sized
    aggregate — no window, no packed string hack)."""
    cnt = (pairs.join(F.broadcast(types),
                      pairs[node_col] == types["node"])
           .groupBy("pred", "type")
           .agg(F.count("*").alias("cnt")))
    top = cnt.groupBy("pred").agg(F.max("cnt").alias("top_cnt"),
                                  F.sum("cnt").alias("n_typed"))
    return (cnt.join(top, "pred")
            .where(F.col("cnt") == F.col("top_cnt"))
            .groupBy("pred")
            .agg(F.min("type").alias(f"{prefix}_type"),
                 F.max("top_cnt").alias("_top"),
                 F.max("n_typed").alias(f"n_{prefix}_typed"))
            .select("pred", f"{prefix}_type",
                    F.col(f"n_{prefix}_typed").cast("bigint")
                    .alias(f"n_{prefix}_typed"),
                    F.expr(f"(_top * {PPM}) div n_{prefix}_typed")
                    .cast("bigint").alias(f"{prefix}_ppm")))


def domain_range(triples: DataFrame, types: DataFrame,
                 pred_col: str = "pred", subj_col: str = "subj",
                 obj_col: str = "obj") -> DataFrame:
    """Induce per-predicate domain (modal subject type) and range
    (modal object type) constraints from a triple table plus an
    entity-type dimension ``types(node, type)``.

    Untyped endpoints drop out (inner join) — n_domain_typed /
    n_range_typed expose the typed coverage so a validator can demand
    a minimum before trusting the constraint.  The type dim is
    broadcast; the per-(pred, type) count table is the only aggregate
    over corpus-sized data.  The distinct pair set is persisted — it
    feeds BOTH modal sides, and without the cache each side re-scans
    and re-deduplicates the triple table (measured 4.0 -> 1.5 s at
    sf0.1; the q100 lesson)."""
    pairs = (triples.select(F.col(pred_col).alias("pred"),
                            F.col(subj_col).alias("subj"),
                            F.col(obj_col).alias("obj"))
             .distinct().persist())
    dom = _modal_type(pairs, "subj", types, "domain")
    rng = _modal_type(pairs, "obj", types, "range")
    out = dom.join(rng, "pred")
    out.unpersist_input = pairs.unpersist
    return out


def rule_mining(triples: DataFrame, min_support: int = 2,
                max_join_degree: int | None = None,
                pred_col: str = "pred", subj_col: str = "subj",
                obj_col: str = "obj") -> DataFrame:
    """AMIE-style closed-path horn rules over a triple table:
    ``p(x, y) AND q(y, z) => r(x, z)`` (Galárraga et al., WWW 2013),
    the schema-mining pass a web KG runs to propose inference rules
    and flag redundant extractions.

    Per rule (p, q, r):

    * ``n_body``    — distinct (x, z) bindings of the body join
      (multiple intermediate y witnesses collapse: AMIE counts head
      bindings, not paths);
    * ``n_support`` — body bindings for which r(x, z) holds;
    * ``conf_ppm``  — standard confidence, 1e6 * n_support div n_body
      (closed-world: every unproven head counts against the rule);
    * ``n_pca``     — body bindings whose x has at least ONE r-edge;
    * ``pca_conf_ppm`` — AMIE's PCA confidence, 1e6 * n_support div
      n_pca (open-world: only x-es known to participate in r at all
      count against the rule — the planted supplied_from rule in the
      q150 fixture scores 1e6 here but ~5e5 standard, AMIE's whole
      point).

    Scale shape: the body join is the one superlinear step and it is
    keyed on the shared entity y — a co-partitioned hash join whose
    per-key fan-out is out_deg(y) * in_deg(y).  ``max_join_degree``
    caps it per (pred, node): a-side rows whose (pred, obj) in-degree
    exceeds the cap and b-side rows whose (pred, subj) out-degree
    exceeds the cap are dropped BEFORE the join (the degree-capped
    wedge-join pattern; at web scale hub
    entities — countries, years — would otherwise square).  The cap
    is part of the rule semantics and must be mirrored by any oracle
    (q150 runs uncapped so the fixture stays cap-free; the cap path
    is pinned by the python-twin unit test).  The support and PCA
    joins are equi-joins on the (x, z) pair / the x key.  The
    distinct pair set feeds five consumers and is persisted; callers
    release via ``unpersist_input``.
    """
    pairs = (triples.select(F.col(pred_col).alias("pred"),
                            F.col(subj_col).alias("subj"),
                            F.col(obj_col).alias("obj"))
             .distinct().persist())
    a = pairs
    b = pairs
    if max_join_degree is not None:
        in_deg = (pairs.groupBy("pred", "obj")
                  .agg(F.count("*").alias("d"))
                  .where(F.col("d") <= max_join_degree)
                  .select("pred", "obj"))
        out_deg = (pairs.groupBy("pred", "subj")
                   .agg(F.count("*").alias("d"))
                   .where(F.col("d") <= max_join_degree)
                   .select("pred", "subj"))
        a = pairs.join(in_deg, ["pred", "obj"])
        b = pairs.join(out_deg, ["pred", "subj"])
    body = (a.select(F.col("pred").alias("p"),
                     F.col("subj").alias("x"),
                     F.col("obj").alias("y"))
            .join(b.select(F.col("pred").alias("q"),
                           F.col("subj").alias("y"),
                           F.col("obj").alias("z")), "y")
            .select("p", "q", "x", "z").distinct().persist())
    n_body = body.groupBy("p", "q").agg(F.count("*").alias("n_body"))
    heads = pairs.select(F.col("pred").alias("r"),
                         F.col("subj").alias("x"),
                         F.col("obj").alias("z"))
    support = (body.join(heads, ["x", "z"])
               .groupBy("p", "q", "r")
               .agg(F.count("*").alias("n_support")))
    r_subj = (pairs.select(F.col("pred").alias("r"),
                           F.col("subj").alias("x"))
              .distinct())
    # body is distinct on (p,q,x,z) and r_subj on (r,x), so the join
    # is already distinct on (p,q,r,x,z) — aggregate directly
    pca = (body.join(r_subj, "x")
           .groupBy("p", "q", "r")
           .agg(F.count("*").alias("n_pca")))
    out = (support.where(F.col("n_support") >= min_support)
           .join(pca, ["p", "q", "r"])
           .join(n_body, ["p", "q"])
           .select(F.col("p").alias("pred_p"),
                   F.col("q").alias("pred_q"),
                   F.col("r").alias("pred_r"),
                   F.col("n_body").cast("bigint").alias("n_body"),
                   F.col("n_support").cast("bigint").alias("n_support"),
                   F.col("n_pca").cast("bigint").alias("n_pca"),
                   F.expr(f"(n_support * {PPM}) div n_body")
                   .cast("bigint").alias("conf_ppm"),
                   F.expr(f"(n_support * {PPM}) div n_pca")
                   .cast("bigint").alias("pca_conf_ppm")))

    def _release():
        pairs.unpersist()
        body.unpersist()
    out.unpersist_input = _release
    return out


def inverse_predicates(triples: DataFrame, pred_col: str = "pred",
                       subj_col: str = "subj",
                       obj_col: str = "obj") -> DataFrame:
    """Detect inverse predicate pairs: for predicates p <= q, the
    directed-pair overlap n_inter = |{(a,b) : p(a,b) and q(b,a)}| and
    jaccard_ppm = 1e6 * n_inter div (n_p + n_q - n_inter).

    For p == q the join matches BOTH directions of every symmetric
    pair, so n_inter counts directed symmetric edges (jaccard_ppm =
    1e6 iff p is fully symmetric) — the flag row for symmetric
    predicates.  Only overlapping pairs are emitted.

    Scale shape: the self-join is keyed on the REVERSED pair
    (subj=obj, obj=subj) — a hash join co-partitioned on the pair
    key, cost O(matching pairs), never predicate-cross-product.  The
    distinct pair set is persisted (three consumers: per-pred counts
    + both join sides)."""
    pairs = (triples.select(F.col(pred_col).alias("pred"),
                            F.col(subj_col).alias("subj"),
                            F.col(obj_col).alias("obj"))
             .distinct().persist())
    n_p = pairs.groupBy("pred").agg(F.count("*").alias("n"))
    a = pairs.alias("a")
    b = pairs.alias("b")
    inter = (a.join(b, (F.col("a.subj") == F.col("b.obj"))
                    & (F.col("a.obj") == F.col("b.subj"))
                    & (F.col("a.pred") <= F.col("b.pred")))
             .groupBy(F.col("a.pred").alias("pred_a"),
                      F.col("b.pred").alias("pred_b"))
             .agg(F.count("*").alias("n_inter")))
    na = n_p.select(F.col("pred").alias("pred_a"),
                    F.col("n").alias("n_a"))
    nb = n_p.select(F.col("pred").alias("pred_b"),
                    F.col("n").alias("n_b"))
    out = (inter.join(F.broadcast(na), "pred_a")
           .join(F.broadcast(nb), "pred_b")
           .select("pred_a", "pred_b",
                   F.col("n_inter").cast("bigint").alias("n_inter"),
                   F.expr(f"(n_inter * {PPM}) "
                          "div (n_a + n_b - n_inter)")
                   .cast("bigint").alias("jaccard_ppm")))
    out.unpersist_input = pairs.unpersist
    return out


def align_entities(triples_a: DataFrame, triples_b: DataFrame,
                   max_df: int = 64, id_bits: int = 32,
                   pred_col: str = "pred", subj_col: str = "subj",
                   obj_col: str = "obj") -> DataFrame:
    """PARIS-style instance alignment (Suchanek et al. VLDB 2012 §5)
    between two KG snapshots: which entity of snapshot A is the same
    real-world thing as each entity of snapshot B?  The recrawl /
    cross-source merge step of KG construction — snapshot B arrives
    with its own surrogate ids and must be reconciled against the
    canonical table before its edges can land.

    Evidence for (e_b ~ e_a) is the shared (pred, obj) statements of
    the two subjects, each weighted by how IDENTIFYING that predicate
    is: weight = inv_func_milli(pred) from snapshot A (an
    inverse-functional predicate like "email" pins an entity; a
    many-valued one like "links_to" barely counts — PARIS's core
    insight).  score_milli = sum of weights over shared pairs; the
    winner per e_b is the packed-integer argmax (ties -> smaller
    e_a id, the house encoding).

    PRECONDITIONS: entity ids in [0, 2^id_bits); score_milli <
    2^(62 - id_bits) (weights are milli <= 1000, so up to ~4M shared
    statements per pair at the default 32 bits — far past max_df).

    Scale shape: both sides dedup to distinct (pred, obj, subj)
    statements; hub (pred, obj) keys with more than ``max_df``
    distinct subjects on EITHER side are dropped before the equi-join
    (the n-gram-Jaccard df-cap pattern — an obj shared by everyone
    identifies nothing, and the cap bounds per-key fan-out at
    max_df^2); the join runs ON the (pred, obj) key, co-partitioned,
    never all-pairs; per-pair scoring and the argmax are one
    combinable aggregate each.  Output: (entity_b, entity_a,
    score_milli, n_partners)."""
    cap = 1 << id_bits
    a = (triples_a.select(F.col(pred_col).alias("pred"),
                          F.col(obj_col).alias("obj"),
                          F.col(subj_col).alias("subj_a"))
         .distinct())
    b = (triples_b.select(F.col(pred_col).alias("pred"),
                          F.col(obj_col).alias("obj"),
                          F.col(subj_col).alias("subj_b"))
         .distinct())
    wt = (predicate_functionality(
        triples_a, pred_col=pred_col, subj_col=subj_col,
        obj_col=obj_col)
        .select("pred", F.expr("inv_func_ppm div 1000")
                .cast("bigint").alias("w_milli")))
    df_a = (a.groupBy("pred", "obj").agg(F.count("*").alias("df_a"))
            .where(F.col("df_a") <= max_df))
    df_b = (b.groupBy("pred", "obj").agg(F.count("*").alias("df_b"))
            .where(F.col("df_b") <= max_df))
    keys = df_a.join(df_b, ["pred", "obj"]).select("pred", "obj")
    shared = (a.join(keys, ["pred", "obj"])
              .join(b.join(keys, ["pred", "obj"]), ["pred", "obj"])
              .join(F.broadcast(wt), "pred"))
    scores = (shared.groupBy("subj_b", "subj_a")
              .agg(F.sum("w_milli").cast("bigint")
                   .alias("score_milli")))
    best = (scores
            .groupBy(F.col("subj_b").alias("entity_b"))
            .agg(F.max(F.col("score_milli") * F.lit(cap)
                       + (F.lit(cap - 1) - F.col("subj_a")))
                 .alias("_p"),
                 F.count("*").cast("bigint").alias("n_partners")))
    return best.select(
        "entity_b",
        (F.lit(cap - 1)
         - F.col("_p").bitwiseAND(F.lit(cap - 1))).cast("bigint")
        .alias("entity_a"),
        F.expr(f"_p div {cap}").cast("bigint").alias("score_milli"),
        "n_partners")


def propagate_types(edges: DataFrame, seeds: DataFrame,
                    iters: int = 2, type_bits: int = 20,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Semi-supervised entity-type inference: a small seed set of
    typed nodes (from the gazetteer's categories, or a curated
    dimension) propagates along graph edges; each round an untyped
    node adopts the modal type of its typed in-neighbors (packed
    argmax: highest count, ties -> smallest type id).  SEEDS ARE
    CLAMPED — a seed never changes type, the Zhu/Ghahramani label-
    propagation discipline that distinguishes this from
    label_propagation_int (where every node floats and labels ARE
    node ids).

    Synchronous, fixed ``iters``, integer-only -> the unrolled-SQL
    oracle is bit-exact.  Nodes unreached after ``iters`` rounds come
    back with type_id NULL (callers filter or default).

    PRECONDITION: type ids in [0, 2^type_bits); per-node typed
    in-degree < 2^(62 - type_bits).

    Scale shape per round: one edges x labels join on src (only
    LABELED rows survive — the join input shrinks to the typed
    frontier's out-edges), one (node, type) count, one packed max per
    node, seed clamp via coalesce against the broadcast-sized seed
    dim.  Same silhouette as label_propagation_int; the same
    localCheckpoint-before-iterating contract applies to deep inputs.
    """
    cap = 1 << type_bits
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sd = seeds.select(F.col("node"),
                      F.col("type_id").cast("bigint").alias("seed_ty"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    lab = (nodes.join(sd, "node", "left")
           .select("node", F.col("seed_ty").alias("ty")))
    for _ in range(iters):
        votes = (e.join(lab.withColumnRenamed("node", "src"), "src")
                 .where(F.col("ty").isNotNull())
                 .groupBy(F.col("dst").alias("node"), "ty")
                 .agg(F.count("*").alias("c")))
        best = (votes
                .groupBy("node")
                .agg(F.max(F.col("c") * F.lit(cap)
                           + (F.lit(cap - 1) - F.col("ty")))
                     .alias("_p")))
        lab = (lab.join(best, "node", "left")
               .join(sd, "node", "left")
               .select("node",
                       F.coalesce(
                           F.col("seed_ty"),
                           F.lit(cap - 1) - F.col("_p")
                           .bitwiseAND(F.lit(cap - 1)),
                           F.col("ty")).cast("bigint").alias("ty")))
    return lab.select("node", F.col("ty").alias("type_id"))


# Hearst patterns (Hearst, COLING 1992): lexical templates that emit
# is-a edges straight off the text stream.  Tokens are restricted to
# [a-z0-9]+ so the Java-regex (Spark) and RE2 (DuckDB) semantics
# coincide exactly; multiword NPs need an upstream chunker and are out
# of scope (documented simplification — the reference has no NP
# chunker either).  Each entry: (name, pattern, hyper_group,
# hypo_list_group) — the list group is split on HEARST_LIST_SPLIT.
# Separator alternation is ordered LONGEST-FIRST (', and ' before
# ', ' before ' and ') because both Java regex and RE2 are
# leftmost-FIRST on alternation: with ', ' first, the greedy list
# star would consume an Oxford comma's ', and' as a list item named
# 'and' and drop the final hyponym (measured; pinned by the
# oxford-comma test).  No lookahead anywhere — RE2-safe.
_HEARST_ITEM = r"[a-z0-9]+"
_HEARST_LIST = rf"{_HEARST_ITEM}(?:(?:, and |, | and ){_HEARST_ITEM})*"
HEARST_PATTERNS = (
    ("such_as", rf"({_HEARST_ITEM}) such as ({_HEARST_LIST})", 1, 2),
    ("and_other", rf"({_HEARST_LIST}) and other ({_HEARST_ITEM})", 2, 1),
)
HEARST_LIST_SPLIT = r", and |, | and "


def hearst_hypernyms(df: DataFrame, text_col: str,
                     id_col: str) -> DataFrame:
    """Hearst-pattern hypernym harvesting: mine is-a triples from
    lexical templates ("Y such as X1, X2 and X3" => X_i is-a Y;
    "X1, X2 and other Y" => X_i is-a Y) — the classic taxonomy-
    induction pass (Hearst 1992) that complements the windowed
    dependency-pattern triple extractor with schema-level edges, the
    way WebIsA/KELM harvest hypernymy from Common Crawl at scale.

    Pure JVM path: lowercase -> regexp_extract_all per pattern (full
    matches) -> per-match group extraction -> list split -> explode;
    zero Python, zero join — the only exchange is the final
    (pattern, hyper, hypo) aggregate.  Patterns are RE2-safe (no
    backreference/lookahead) so the DuckDB twin runs the SAME regex
    bytes.

    Returns (pattern, hypernym, hyponym, n_docs) with n_docs =
    countDistinct docs asserting the pair under that pattern —
    aggregated pair support, ready for a confidence cut.

    Scale shape: per-row projection chain inside one codegen stage;
    output is pair-vocabulary-sized.  A pathological row with many
    matches explodes to its match count — text rows are
    length-bounded upstream (Gopher/C4 gates), which bounds the
    per-row fanout."""
    low = F.lower(F.col(text_col))
    per_pattern = []
    for name, pat, hyper_g, hypo_g in HEARST_PATTERNS:
        m = F.explode(
            F.regexp_extract_all(low, F.lit(pat), F.lit(0))).alias("_m")
        matches = df.select(F.col(id_col).alias("_doc"), m)
        pairs = matches.select(
            "_doc",
            F.regexp_extract(F.col("_m"), pat, hyper_g).alias("hypernym"),
            F.explode(
                F.split(F.regexp_extract(F.col("_m"), pat, hypo_g),
                        HEARST_LIST_SPLIT)).alias("hyponym"))
        per_pattern.append(
            pairs.select(F.lit(name).alias("pattern"), "_doc",
                         "hypernym", "hyponym"))
    allp = per_pattern[0]
    for p in per_pattern[1:]:
        allp = allp.unionByName(p)
    return (allp.where((F.col("hypernym") != "") & (F.col("hyponym") != ""))
            .groupBy("pattern", "hypernym", "hyponym")
            .agg(F.countDistinct("_doc").cast("bigint").alias("n_docs")))
