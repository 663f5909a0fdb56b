"""Round-4 operators: modularity, edge-cut audit, PARIS instance
alignment, seeded type propagation.

Each test recomputes the expected answer with plain Python on a tiny
hand-built graph — the engine-vs-python agreement discipline of
test_ontology_mix.py — so the DuckDB oracles (q154-q158) are not the
only cross-check.
"""

from pyspark.sql import functions as F

from python_mecab_ner_spark.operators.graph import (
    edge_cut_audit, label_propagation_int, modularity_ppm)
from python_mecab_ner_spark.operators.ontology import (
    align_entities, propagate_types)


def _sym(spark, pairs, weighted=False):
    cols = ["src", "dst"] + (["w"] if weighted else [])
    rows = pairs + [tuple([p[1], p[0]] + list(p[2:])) for p in pairs]
    return spark.createDataFrame(rows, cols)


def test_modularity_two_cliques(spark):
    # two triangles joined by one bridge edge: the textbook
    # two-community graph.  Communities = the cliques.
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    edges = _sym(spark, tri1 + tri2 + [(3, 4)])
    comm = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3)] + [(n, 4) for n in (4, 5, 6)],
        ["node", "community"])
    row = modularity_ppm(edges, comm).collect()[0]
    # W = 14 (7 undirected edges symmetrized); intra = 12;
    # degrees: nodes 3,4 have 3, others 2 -> S_c = 7 each
    # Q = 12/14 - 2*(7/14)^2 = 6/7 - 1/2 = 5/14 = 0.357142...
    assert row.n_communities == 2
    assert row.w_tot == 14
    assert row.intra_w == 12
    assert row.modularity_ppm == (10**6 * (14 * 12 - 2 * 49)
                                  + 10**6 * 196) // 196 - 10**6
    assert row.modularity_ppm == 357142


def test_modularity_trivial_partition_scores_zero(spark):
    # one community holding everything: Q = W*W/W^2 - 1 = 0 exactly
    edges = _sym(spark, [(1, 2), (2, 3)])
    comm = spark.createDataFrame([(n, 1) for n in (1, 2, 3)],
                                 ["node", "community"])
    assert modularity_ppm(edges, comm).collect()[0].modularity_ppm == 0


def test_modularity_agrees_with_lpa_python_twin(spark):
    # barbell-ish weighted graph through the real LPA partition;
    # python recompute of Q from first principles
    pairs = [(1, 2, 5), (2, 3, 5), (1, 3, 5),
             (4, 5, 5), (5, 6, 5), (4, 6, 5), (3, 4, 1)]
    edges = _sym(spark, pairs, weighted=True)
    comm = label_propagation_int(edges, iters=2, weight="w")
    got = modularity_ppm(edges, comm, weight="w").collect()[0]
    labs = {r.node: r.community for r in comm.collect()}
    ew = [(s, d, w) for s, d, w in pairs] + \
        [(d, s, w) for s, d, w in pairs]
    W = sum(w for _, _, w in ew)
    intra = sum(w for s, d, w in ew if labs[s] == labs[d])
    deg = {}
    for s, _, w in ew:
        deg[s] = deg.get(s, 0) + w
    s_c = {}
    for n, c in labs.items():
        s_c[c] = s_c.get(c, 0) + deg[n]
    s2 = sum(v * v for v in s_c.values())
    expect = (10**6 * (W * intra - s2 + W * W)) // (W * W) - 10**6
    assert got.modularity_ppm == expect
    assert got.w_tot == W and got.intra_w == intra


def test_edge_cut_audit_exact_counts(spark):
    edges = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5), (8, 9), (0, 8)], ["src", "dst"])
    out = {r.layout: r for r in edge_cut_audit(
        edges, {"div8": lambda c: (c / 8).cast("bigint"),
                "mod2": lambda c: c % 2}).collect()}
    # div8: only (0,8) crosses (0 vs 1); (8,9) stays (both 1)
    assert out["div8"].cut_edges == 1
    assert out["div8"].n_edges == 5
    assert out["div8"].cut_ppm == 200000
    # mod2: every (even, odd) pair crosses except (0,8)
    assert out["mod2"].cut_edges == 4


def test_align_entities_recovers_mapping(spark):
    # A: two entities with one identifying statement each + one hub
    # statement shared by both; B: same world, ids shifted by 100
    a = spark.createDataFrame(
        [(1, "name", "alpha"), (2, "name", "beta"),
         (1, "color", "red"), (2, "color", "red")],
        ["subj", "pred", "obj"])
    b = spark.createDataFrame(
        [(101, "name", "alpha"), (102, "name", "beta"),
         (101, "color", "red"), (102, "color", "red")],
        ["subj", "pred", "obj"])
    got = {r.entity_b: r for r in
           align_entities(a, b, max_df=64).collect()}
    assert got[101].entity_a == 1 and got[102].entity_a == 2
    # name: n_pairs=2, n_obj=2 -> inv_func 1e6 -> w 1000
    # color: n_pairs=2, n_obj=1 -> inv_func 500000 -> w 500
    assert got[101].score_milli == 1500
    # the hub 'color,red' statement also links 101 to entity 2
    assert got[101].n_partners == 2


def test_align_entities_df_cap_drops_hub_keys(spark):
    # every A-entity shares the same statement: df = 3 > max_df=2
    # -> no candidates at all
    rows = [(i, "p", "hub") for i in (1, 2, 3)]
    a = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    b = spark.createDataFrame([(r[0] + 100, r[1], r[2]) for r in rows],
                              ["subj", "pred", "obj"])
    assert align_entities(a, b, max_df=2).count() == 0


def test_align_entities_tie_breaks_to_smaller_id(spark):
    # B-entity shares the identical statement set with A-entities
    # 7 and 3 -> equal scores, winner must be 3
    a = spark.createDataFrame(
        [(7, "name", "x"), (3, "name", "x")], ["subj", "pred", "obj"])
    b = spark.createDataFrame([(200, "name", "x")],
                              ["subj", "pred", "obj"])
    r = align_entities(a, b, max_df=64).collect()[0]
    assert r.entity_a == 3 and r.n_partners == 2


def test_propagate_types_seeds_clamped_and_modal(spark):
    # star: seeds 1 (type 5) and 2,3 (type 7) all point at node 10;
    # node 10 takes the modal type 7; seed nodes never move even
    # though 10 (typed after round 1) points back at them
    edges = _sym(spark, [(1, 10), (2, 10), (3, 10)])
    seeds = spark.createDataFrame(
        [(1, 5), (2, 7), (3, 7)], ["node", "type_id"])
    got = {r.node: r.type_id for r in
           propagate_types(edges, seeds, iters=2).collect()}
    assert got[10] == 7
    assert got[1] == 5 and got[2] == 7 and got[3] == 7


def test_propagate_types_tie_prefers_smaller_type(spark):
    edges = spark.createDataFrame([(1, 10), (2, 10)], ["src", "dst"])
    seeds = spark.createDataFrame([(1, 9), (2, 4)],
                                  ["node", "type_id"])
    got = {r.node: r.type_id for r in
           propagate_types(edges, seeds, iters=1).collect()}
    assert got[10] == 4


def test_propagate_types_unreached_stays_null(spark):
    edges = spark.createDataFrame([(1, 2), (3, 4)], ["src", "dst"])
    seeds = spark.createDataFrame([(1, 6)], ["node", "type_id"])
    out = propagate_types(edges, seeds, iters=2)
    got = {r.node: r.type_id for r in out.collect()}
    assert got[2] == 6
    assert got[3] is None and got[4] is None


def test_khop_counts_agrees_with_pair_set(spark):
    # counting fast path == groupBy-count over the pair-set path,
    # on a graph with a cycle, a direct+indirect duplicate, and a sink
    from python_mecab_ner_spark.operators.graph import (
        khop_counts, khop_neighbors)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 1), (3, 4), (5, 1)],
        "src bigint, dst bigint")
    for k in (1, 2, 3):
        fast = {r.node: r.n_khop for r in khop_counts(e, k=k).collect()}
        slow = {}
        for r in khop_neighbors(e, k=k).collect():
            slow[r.node] = slow.get(r.node, 0) + 1
        assert fast == slow, f"k={k}: {fast} != {slow}"


def test_kg_modularity_and_edge_cut_invariants(spark):
    # the real-KG demonstrations: structural invariants, not pinned
    # numbers (the 400-doc graph is deterministic but these hold for
    # ANY corpus) — Q in [-1, 1], identical edge totals per layout,
    # and community-aligned placement cuts fewer edges than hash
    # (the point of the audit)
    import __spark_entry__ as entry
    q = entry.kg_modularity(spark, None).collect()[0]
    assert -1_000_000 <= q.modularity_ppm <= 1_000_000
    assert q.intra_w <= q.w_tot
    cuts = {r.layout: r for r in
            entry.kg_edge_cut(spark, None).collect()}
    assert set(cuts) == {"community32", "hash32", "range32"}
    n = {r.n_edges for r in cuts.values()}
    assert len(n) == 1
    for r in cuts.values():
        assert 0 <= r.cut_edges <= r.n_edges
        assert r.cut_ppm == r.cut_edges * 1_000_000 // r.n_edges
    assert cuts["community32"].cut_edges < cuts["hash32"].cut_edges


def test_kg_entity_alignment_recovers_majority(spark):
    # surrogate-id re-identification on the REAL extracted triples:
    # deterministic corpus, so the sheet is stable — assert the
    # structural bounds plus a loose accuracy floor (sparse subjects
    # lose their identifying statements to the 30% drop, so 100% is
    # not expected)
    import __spark_entry__ as entry
    r = entry.kg_entity_alignment(spark, None).collect()[0]
    assert 0 < r.n_correct <= r.n_aligned
    assert r.acc_ppm == r.n_correct * 1_000_000 // r.n_aligned
    assert r.acc_ppm >= 500_000


def test_wl_signatures_structural_equivalence(spark):
    from python_mecab_ner_spark.operators.graph import wl_signatures
    # two disjoint isomorphic stars (hub + 2 leaves) with DIFFERENT
    # node ids: uniform initial color -> id-free refinement, so ALL
    # leaves coincide across stars, hubs coincide, hub != leaf
    edges = _sym(spark, [(1, 2), (1, 3), (10, 20), (10, 30)])
    got = {r.node: r.wl_label for r in
           wl_signatures(edges, iters=2).collect()}
    assert got[2] == got[3] == got[20] == got[30]
    assert got[1] == got[10]
    assert got[1] != got[2]


def test_wl_signatures_separates_roles_on_path(spark):
    from python_mecab_ner_spark.operators.graph import wl_signatures
    # path a-b-c-d: symmetric roles {a,d} (ends) and {b,c} (middles)
    # are exactly the depth-2 classes
    edges = _sym(spark, [(1, 2), (2, 3), (3, 4)])
    got = {r.node: r.wl_label for r in
           wl_signatures(edges, iters=2).collect()}
    assert got[1] == got[4] and got[2] == got[3]
    assert got[1] != got[2]


def test_scc_basic_cycle_and_dag(spark):
    from python_mecab_ner_spark.operators.graph import \
        strongly_connected_components as scc
    # 1->2->3->1 (cycle), 3->4->5 (tail), 5->4 (2-cycle), 6->1 (feeder)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1)],
        "src bigint, dst bigint")
    got = {r.node: r.scc_id for r in scc(e).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == 4
    assert got[6] == 6


def test_scc_python_twin_random(spark):
    import itertools
    from python_mecab_ner_spark.operators.graph import \
        strongly_connected_components as scc
    import hashlib
    # deterministic pseudo-random digraph on 40 nodes
    nodes = list(range(1, 41))
    edges = []
    for u, v in itertools.product(nodes, nodes):
        if u != v and int(hashlib.md5(
                f"scc:{u}:{v}".encode()).hexdigest(), 16) % 23 == 0:
            edges.append((u, v))
    # python twin: Tarjan via iterative Kosaraju
    adj, radj = {}, {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        radj.setdefault(v, []).append(u)
    seen, order = set(), []

    def dfs1(s):
        stack = [(s, iter(adj.get(s, [])))]
        seen.add(s)
        while stack:
            n, it = stack[-1]
            adv = False
            for m in it:
                if m not in seen:
                    seen.add(m)
                    stack.append((m, iter(adj.get(m, []))))
                    adv = True
                    break
            if not adv:
                order.append(n)
                stack.pop()
    incident = sorted({u for u, _ in edges} | {v for _, v in edges})
    for s in incident:
        if s not in seen:
            dfs1(s)
    comp = {}
    for s in reversed(order):
        if s in comp:
            continue
        stack, members = [s], []
        comp[s] = None
        while stack:
            n = stack.pop()
            members.append(n)
            for m in radj.get(n, []):
                if m not in comp:
                    comp[m] = None
                    stack.append(m)
        cid = min(members)
        for m in members:
            comp[m] = cid
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.scc_id for r in scc(e, max_rounds=40).collect()}
    assert got == comp


def test_propagate_types_python_twin_random(spark):
    # deterministic pseudo-random digraph + seed set vs a pure-python
    # recompute of the clamped synchronous modal-vote recurrence
    import hashlib

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest(), 16)
    nodes = list(range(1, 31))
    edges = [(u, v) for u in nodes for v in nodes
             if u != v and h(f"tp:{u}:{v}") % 9 == 0]
    seeds = {n: h(f"ty:{n}") % 5 for n in nodes if h(f"seed:{n}") % 3 == 0}
    iters = 3
    lab = {n: seeds.get(n) for n in nodes}
    for _ in range(iters):
        votes = {}
        for u, v in edges:
            if lab[u] is not None:
                votes.setdefault(v, {}).setdefault(lab[u], 0)
                votes[v][lab[u]] += 1
        new = {}
        for n in nodes:
            if n in seeds:
                new[n] = seeds[n]
            elif n in votes:
                best = max(votes[n].items(),
                           key=lambda kv: (kv[1], -kv[0]))
                new[n] = best[0]
            else:
                new[n] = lab[n]
        lab = new
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    sd = spark.createDataFrame(list(seeds.items()),
                               "node bigint, type_id bigint")
    got = {r.node: r.type_id for r in
           propagate_types(e, sd, iters=iters).collect()}
    # operator's node set = edge-incident nodes only
    incident = {u for u, _ in edges} | {v for _, v in edges}
    expect = {n: lab[n] for n in incident}
    assert got == expect


def test_kg_type_propagation_sheet_invariants(spark):
    import __spark_entry__ as entry
    r = entry.kg_type_propagation(spark, None).collect()[0]
    assert r.n_correct <= r.n_predicted <= r.n_eval
    assert r.n_eval > 0
    if r.n_predicted:
        assert r.acc_ppm == r.n_correct * 1_000_000 // r.n_predicted


def test_frequent_itemsets3_apriori_exact(spark):
    from python_mecab_ner_spark.operators.colloc import \
        frequent_itemsets3
    import itertools
    baskets = {
        1: {"a", "b", "c"}, 2: {"a", "b", "c", "d"},
        3: {"a", "b", "d"}, 4: {"b", "c", "d"},
        5: {"a", "b", "c"}, 6: {"x"},
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    df = spark.createDataFrame(rows, ["basket", "item"])
    got = {(r.item_a, r.item_b, r.item_c): r.support
           for r in frequent_itemsets3(df, min_support=3).collect()}
    # brute-force twin
    expect = {}
    items = sorted({i for s in baskets.values() for i in s})
    for t in itertools.combinations(items, 3):
        s = sum(1 for bs in baskets.values() if set(t) <= bs)
        if s >= 3:
            expect[t] = s
    assert got == expect
    assert got[("a", "b", "c")] == 3


def test_epoch_allocation_invariants(spark):
    from python_mecab_ner_spark.operators.sample import \
        epoch_allocation
    import hashlib
    rows = [(f"s{i}",
             1 + int(hashlib.md5(f"ea:{i}".encode()).hexdigest(),
                     16) % 1000)
            for i in range(9)]
    df = spark.createDataFrame(rows, ["source", "tokens"])
    total_cap = sum(t for _, t in rows) * 4
    for budget in (50, 700, total_cap - 3, total_cap + 100):
        got = epoch_allocation(df, budget=budget,
                               max_epochs=4).collect()
        assert sum(r.take_tokens for r in got) == min(budget,
                                                      total_cap), budget
        for r in got:
            assert 0 <= r.take_tokens <= r.cap == r.tokens * 4
            assert r.epochs_milli == r.take_tokens * 1000 // r.tokens
            assert r.budget_unmet == max(0, budget - total_cap)


def test_symspell_finds_all_edit1_kinds_and_rejects_edit2(spark):
    from python_mecab_ner_spark.operators.retrieval import \
        symspell_alias_pairs
    vocab = spark.createDataFrame(
        [("table",), ("tble",),     # deletion
         ("tables",),               # insertion
         ("tabls",),                # none vs table (dist 2)? t-a-b-l-s: sub l->_? table->tabls = sub 'e'->'s'? tab(le) vs tab(ls): positions 4,5 'le' vs 'ls' -> one substitution
         ("cable",),                # substitution t->c
         ("chair",)],               # unrelated
        ["term"])
    got = {(r.term_a, r.term_b) for r in
           symspell_alias_pairs(vocab).collect()}
    assert ("table", "tble") in got
    assert ("table", "tables") in got
    assert ("cable", "table") in got
    assert ("table", "tabls") in got
    assert not any("chair" in p for p in got)
    # python twin: brute-force levenshtein over the vocab
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]
    words = [r.term for r in vocab.collect()]
    expect = {tuple(sorted((a, b)))
              for a, b in itertools.combinations(words, 2)
              if lev(a, b) <= 1}
    assert got == expect


def test_scc_raises_on_inner_fixpoint_exhaustion(spark):
    # ADVICE r4 (graph.py forward/backward fixpoints): a directed
    # 30-cycle needs ~29 forward passes; max_prop=5 must RAISE, not
    # settle truncated colors that split the cycle across scc_ids.
    import pytest
    from python_mecab_ner_spark.operators.graph import \
        strongly_connected_components as scc
    n = 30
    e = spark.createDataFrame(
        [(i, i % n + 1) for i in range(1, n + 1)],
        "src bigint, dst bigint")
    with pytest.raises(RuntimeError, match="max_prop"):
        scc(e, max_prop=5).collect()
    got = {r.node: r.scc_id for r in scc(e, max_prop=35).collect()}
    assert set(got.values()) == {1} and len(got) == n


def test_modularity_overflow_guard_raises(spark):
    # round-4 advice: W above isqrt(2^62/scale) must raise in-plan
    # (the guard is folded into the output expression so Catalyst
    # cannot prune it), not silently overflow the bigint dividend
    import pytest
    from py4j.protocol import Py4JJavaError
    from python_mecab_ner_spark.operators.graph import modularity_ppm
    e = spark.createDataFrame(
        [(1, 2, 2_200_000_000), (2, 1, 2_200_000_000)],
        "src bigint, dst bigint, w bigint")
    lab = spark.createDataFrame([(1, 1), (2, 1)],
                                "node bigint, community bigint")
    # either our assert message (guard evaluated first) or the ANSI
    # ArithmeticException backstop — never a silent wrong answer
    with pytest.raises(Exception,
                       match="int64-safe bound|ARITHMETIC_OVERFLOW"):
        modularity_ppm(e, lab, weight="w").collect()


def test_wl_hub_degree_cap(spark):
    """Round-4 verdict task 3: max_in_degree bounds the WL neighbor
    aggregate on power-law hubs.  Two 10^4-in-degree hubs with equal
    lowest-N multisets AND equal overflow counts coincide; a
    5000-in-degree hub differs (overflow folded into the hash);
    leaves are untouched; the capped run is deterministic."""
    from pyspark.sql import functions as F
    from python_mecab_ner_spark.operators.graph import wl_signatures
    leavesA = spark.range(100, 10100).select(
        F.col("id").alias("src"), F.lit(1).cast("bigint").alias("dst"))
    leavesB = spark.range(20000, 30000).select(
        F.col("id").alias("src"), F.lit(2).cast("bigint").alias("dst"))
    leavesC = spark.range(40000, 45000).select(
        F.col("id").alias("src"), F.lit(3).cast("bigint").alias("dst"))
    e = leavesA.unionByName(leavesB).unionByName(leavesC)
    got = {r.node: r.wl_label for r in
           wl_signatures(e, iters=2, max_in_degree=64).collect()}
    assert got[1] == got[2]          # same truncated multiset + overflow
    assert got[1] != got[3]          # different overflow count
    assert got[100] == got[20000] == got[40000]  # leaves coincide
    assert got[100] != got[1]
    # deterministic under re-run
    again = {r.node: r.wl_label for r in
             wl_signatures(e, iters=2, max_in_degree=64).collect()}
    assert again == got
    # plan hygiene: the capped path bounds the aggregate via a
    # row_number window (spill-safe) — no unbounded collect_list
    plan = (wl_signatures(e, iters=1, max_in_degree=64)
            ._jdf.queryExecution().executedPlan().toString())
    assert "row_number" in plan.lower()
    # the default path stays the exact refinement (no window)
    plan0 = (wl_signatures(e, iters=1)
             ._jdf.queryExecution().executedPlan().toString())
    assert "row_number" not in plan0.lower()


def test_wl_cap_above_degree_matches_exact(spark):
    # a cap LARGER than every in-degree must reproduce the exact
    # refinement bit-for-bit (no '|+' suffix fires)
    from python_mecab_ner_spark.operators.graph import wl_signatures
    edges = _sym(spark, [(1, 2), (2, 3), (3, 4), (1, 3)])
    exact = {r.node: r.wl_label for r in
             wl_signatures(edges, iters=3).collect()}
    capped = {r.node: r.wl_label for r in
              wl_signatures(edges, iters=3, max_in_degree=100).collect()}
    assert exact == capped


def test_symspell_distance2_python_twin(spark):
    """Round-4 verdict task 7: max_dist=2 finds every pair at
    levenshtein <= 2 (brute-force twin), reports the exact distance,
    and distance 1 alone misses the double-edit pairs."""
    import itertools
    from python_mecab_ner_spark.operators.retrieval import \
        symspell_alias_pairs
    words = ["table", "tble", "tbl",        # 1-del, 2-del chain
             "cable", "cuble",              # sub, sub+sub
             "stables",                     # 2 inserts vs table
             "xable",                       # sub vs table/cable
             "chair", "chairs", "hairy",    # mixed
             "zq"]                          # short unrelated
    vocab = spark.createDataFrame([(w,) for w in words], ["term"])

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    got = {(r.term_a, r.term_b): r.dist for r in
           symspell_alias_pairs(vocab, max_dist=2).collect()}
    expect = {tuple(sorted((a, b))): lev(a, b)
              for a, b in itertools.combinations(words, 2)
              if lev(a, b) <= 2}
    assert got == expect
    assert got[("table", "tbl")] == 2        # the d1-invisible pair
    assert got[("cable", "cuble")] == 1      # single substitution
    d1 = {(r.term_a, r.term_b) for r in
          symspell_alias_pairs(vocab).collect()}
    assert ("table", "tbl") not in d1 and ("stables", "table") not in d1
    assert d1 == {p for p, v in got.items() if v == 1}
    assert all(v in (1, 2) for v in got.values())
