"""Round-5 continuation: temporal reachability (q206) and SCD2 history
merge (q208) — Python twins."""

import random

import pytest

from pyspark.sql import functions as F

from python_mecab_ner_spark.operators.crawl import scd2_merge
from python_mecab_ner_spark.operators.temporal import temporal_reachability


# ----------------------------------------------------- temporal reachability

def _py_reach(sym_edges, seeds):
    arr = {s: 0 for s in seeds}
    while True:
        ch = False
        new = dict(arr)
        for u, v, t in sym_edges:
            if u in arr and arr[u] <= t and (v not in new or t < new[v]):
                new[v] = t
                ch = True
        arr = new
        if not ch:
            return arr


def _run_reach(spark, edges, seeds, **kw):
    sym = edges + [(b, a, t) for a, b, t in edges]
    e = spark.createDataFrame(sym, "src bigint, dst bigint, t bigint")
    s = spark.createDataFrame([(x,) for x in seeds], "node bigint")
    got = {r["node"]: r["arrival"]
           for r in temporal_reachability(e, s, **kw).collect()}
    return got, _py_reach(sym, set(seeds))


def test_reach_random_matches_python(spark):
    rng = random.Random(31)
    edges = [(rng.randrange(30), rng.randrange(30), rng.randrange(100))
             for _ in range(120)]
    edges = [(a, b, t) for a, b, t in edges if a != b]
    got, exp = _run_reach(spark, edges, [0, 1])
    assert got == exp


def test_reach_time_respecting_blocks_backward_path(spark):
    # 0-(t5)-1-(t3)-2: the 1->2 contact happened BEFORE 1 was reached,
    # so 2 is unreachable; a plain khop would claim it
    got, exp = _run_reach(spark, [(0, 1, 5), (1, 2, 3)], [0])
    assert got == {0: 0, 1: 5} == exp


def test_reach_later_contact_usable(spark):
    # pair (1,2) has contacts at t3 AND t8; arrival(1)=5 can only use
    # the t8 contact — collapsing to min t per pair would lose it
    got, exp = _run_reach(spark, [(0, 1, 5), (1, 2, 3), (1, 2, 8)], [0])
    assert got == {0: 0, 1: 5, 2: 8} == exp


def test_reach_budget_raises(spark):
    edges = [(i, i + 1, i) for i in range(10)]  # 10-hop causal chain
    with pytest.raises(RuntimeError):
        _run_reach(spark, edges, [0], max_rounds=3)


# ------------------------------------------------------------------- scd2

def _py_scd2(history, snap, t):
    out = [h for h in history if h[3] is not None]
    open_ = {h[0]: h for h in history if h[3] is None}
    snap = dict(snap)
    for k, h in open_.items():
        if k in snap and snap[k] == h[1]:
            out.append(h)
        else:
            out.append((k, h[1], h[2], t))
            if k in snap:
                out.append((k, snap[k], t, None))
    for k, fp in snap.items():
        if k not in open_:
            out.append((k, fp, t, None))
    return sorted(out, key=str)


def test_scd2_two_merges_match_python(spark):
    rng = random.Random(53)
    snap1 = [(f"u{i}", f"h{rng.randrange(5)}") for i in range(30)]
    snap2 = ([(f"u{i}", f"h{rng.randrange(5)}") for i in range(20)]
             + [(f"v{i}", "hx") for i in range(4)])  # u20.. deleted
    empty = spark.createDataFrame(
        [], "url string, fp string, valid_from bigint, valid_to bigint")
    s1 = spark.createDataFrame(snap1, "url string, fp string")
    s2 = spark.createDataFrame(snap2, "url string, fp string")
    h2 = scd2_merge(scd2_merge(empty, s1, t=1), s2, t=2)
    got = sorted(((r["url"], r["fp"], r["valid_from"], r["valid_to"])
                  for r in h2.collect()), key=str)
    exp = _py_scd2(_py_scd2([], snap1, 1), snap2, 2)
    assert got == exp
    # a deleted key's row is CLOSED, not dropped
    assert any(u == "u25" and vt == 2 for u, _, _, vt in got)


def test_scd2_duplicate_snapshot_keys_resolve_deterministically(spark):
    # same URL fetched twice in one batch: the lexicographically
    # least fingerprint wins; exactly ONE open row per key survives
    empty = spark.createDataFrame(
        [], "url string, fp string, valid_from bigint, valid_to bigint")
    s = spark.createDataFrame(
        [("u", "h2"), ("u", "h1"), ("v", "hx")], "url string, fp string")
    h = scd2_merge(empty, s, t=1)
    got = sorted((r["url"], r["fp"], r["valid_from"], r["valid_to"])
                 for r in h.collect())
    assert got == [("u", "h1", 1, None), ("v", "hx", 1, None)]
    # merging a duplicate-bearing second snapshot never yields two
    # open rows for one key
    s2 = spark.createDataFrame(
        [("u", "h9"), ("u", "h3")], "url string, fp string")
    h2 = scd2_merge(h, s2, t=2)
    open_rows = [r for r in h2.collect() if r["valid_to"] is None]
    assert sorted((r["url"], r["fp"]) for r in open_rows) == [
        ("u", "h3")]
