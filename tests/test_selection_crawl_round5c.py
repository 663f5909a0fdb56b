"""Round-5 closing additions: greedy max-coverage selection (q193) and
URL path-template mining (q195).

Discipline as in test_matching_taxonomy.py: every test recomputes the
expected answer with plain Python on small randomized or hand-built
inputs, so the DuckDB oracles are not the only cross-check.
"""

import random

from python_mecab_ner_spark.operators.crawl import url_path_templates
from python_mecab_ner_spark.operators.sample import greedy_max_coverage


def _py_greedy(pairs, k):
    """Plain-python greedy max coverage: (max gain, min item) per
    round, winner's elements removed."""
    sets = {}
    for it, el in pairs:
        sets.setdefault(it, set()).add(el)
    covered, out = set(), []
    for rnd in range(1, k + 1):
        gains = {it: len(es - covered) for it, es in sets.items()
                 if len(es - covered) > 0}
        if not gains:
            break
        win = min(gains, key=lambda it: (-gains[it], it))
        out.append((rnd, win, gains[win]))
        covered |= sets[win]
    return out


def test_coverage_random_twin(spark):
    rng = random.Random(17)
    pairs = list({(rng.randrange(30), f"e{rng.randrange(80)}")
                  for _ in range(300)})
    df = spark.createDataFrame(pairs, ["item", "elem"])
    got = [(r.round, r.item, r.gain)
           for r in greedy_max_coverage(df, "item", "elem", k=6)
           .orderBy("round").collect()]
    assert got == _py_greedy(pairs, 6)


def test_coverage_early_stop_and_ties(spark):
    # two items share elements; a third is disjoint; universe dries up
    pairs = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "c")]
    df = spark.createDataFrame(pairs, ["item", "elem"])
    got = [(r.round, r.item, r.gain)
           for r in greedy_max_coverage(df, "item", "elem", k=5)
           .orderBy("round").collect()]
    # round 1: gain-2 tie between items 1 and 2 -> min item wins;
    # item 2's pairs vanish with the covered elems; round 3 is dry
    assert got == [(1, 1, 2), (2, 3, 1)]


def test_url_templates(spark):
    rows = [
        ("https://a.com/post/123",),
        ("https://a.com/post/999",),
        ("https://a.com/u/0123456789abcdef/profile",),
        ("https://a.com/u/deadbeefdeadbeef/profile?x=1",),
        ("https://b.org/about",),
        ("https://b.org/tag/t3/page/7",),
        ("https://b.org/",),          # empty path -> "/"
        ("https://a.com/v2/item/42",),  # 'v2' mixed -> literal
    ]
    df = spark.createDataFrame(rows, ["url"])
    got = {(r.host, r.template): r.n_urls
           for r in url_path_templates(df).collect()}
    assert got == {
        ("a.com", "/post/{n}"): 2,
        ("a.com", "/u/{h}/profile"): 2,
        ("b.org", "/about"): 1,
        ("b.org", "/tag/t3/page/{n}"): 1,
        ("b.org", "/"): 1,
        ("a.com", "/v2/item/{n}"): 1,
    }
