"""Round-5 late additions: Poisson-bootstrap CI, Wilson lower bound,
Hearst hypernym harvesting.

Discipline as in test_round5_ops.py: every test recomputes the
expected answer with plain Python on small randomized or hand-built
inputs, so the DuckDB oracles (q184-q186) are not the only
cross-check.
"""

import math
import random

from python_mecab_ner_spark.functions.hashing import md5_int_py
from python_mecab_ner_spark.operators.ontology import hearst_hypernyms
from python_mecab_ner_spark.operators.sample import (
    POISSON1_CDF_PPM, poisson_bootstrap_ci, wilson_lower_bound)


# ----------------------------------------------- Poisson bootstrap CI

def _boot_weight(doc_id, rep, salt="boot:"):
    u = md5_int_py(f"{doc_id}#{rep}", salt=salt) % 1_000_000
    return sum(u >= t for t in POISSON1_CDF_PPM)


def _boot_twin(rows, n_reps):
    means = []
    for r in range(n_reps):
        num = den = 0
        for doc_id, v in rows:
            w = _boot_weight(doc_id, r)
            num += w * v
            den += w
        means.append((num * 1_000_000) // max(den, 1))
    means.sort()
    r_lo = max(1, (n_reps * 25) // 1000)
    r_hi = min(n_reps, (n_reps * 975 + 999) // 1000)
    return means[r_lo - 1], means[r_hi - 1]


def test_poisson_bootstrap_matches_python_twin(spark):
    rng = random.Random(13)
    rows = [(i, rng.randrange(0, 101)) for i in range(150)]
    df = spark.createDataFrame(rows, ["doc_id", "v"])
    got = poisson_bootstrap_ci(df, "v", "doc_id", n_reps=40).collect()[0]
    lo, hi = _boot_twin(rows, 40)
    assert (got.ci_lo_ppm, got.ci_hi_ppm) == (lo, hi)
    assert got.n_docs == 150 and got.n_reps == 40
    mean = sum(v for _, v in rows) * 1_000_000 // 150
    assert got.mean_ppm == mean
    # the interval should bracket the point estimate
    assert got.ci_lo_ppm <= got.mean_ppm <= got.ci_hi_ppm


def test_poisson_weight_distribution_sane():
    # ~unit mean, every value in 0..6, all seven values realized
    ws = [_boot_weight(i, 0) for i in range(3000)]
    assert set(ws) <= set(range(7))
    assert 0.9 < sum(ws) / len(ws) < 1.1
    assert ws.count(0) / len(ws) > 0.3   # ~e^-1

# ------------------------------------------------- Wilson lower bound


def _wilson_twin(n, k):
    root = math.isqrt(n * (k * (n - k) + n))
    return (1_000_000 * (k + 2) * n - 2_000_000 * root) // (n * (n + 4))


def test_wilson_lower_bound_matches_twin(spark):
    rng = random.Random(14)
    rows = []
    sizes = {"s1": 1, "s2": 2, "big": 500}
    for g, n in sizes.items():
        for _ in range(n):
            rows.append((g, rng.randrange(2)))
    df = spark.createDataFrame(rows, ["g", "keep"])
    got = {r.g: r for r in wilson_lower_bound(df, "g", "keep").collect()}
    for g, n in sizes.items():
        k = sum(y for gg, y in rows if gg == g)
        assert (got[g].n_docs, got[g].n_pos) == (n, k)
        assert got[g].wilson_lb_ppm == _wilson_twin(n, k)
        # bound properties: 0 <= LB <= raw rate
        assert 0 <= got[g].wilson_lb_ppm <= got[g].rate_ppm


def test_wilson_small_n_ranks_below_large(spark):
    # 2/2 raw rate (1.0) must NOT outrank 9500/10000 (0.95)
    rows = [("tiny", 1)] * 2 + [("big", 1)] * 9500 + [("big", 0)] * 500
    df = spark.createDataFrame(rows, ["g", "keep"])
    got = {r.g: r.wilson_lb_ppm
           for r in wilson_lower_bound(df, "g", "keep").collect()}
    assert got["tiny"] < got["big"]
    assert got["tiny"] == _wilson_twin(2, 2)


# ------------------------------------------------------ Hearst mining

def test_hearst_such_as_and_other(spark):
    rows = [
        (1, "Animals such as cats, dogs and birds live here."),
        (2, "animals such as cats thrive."),
        (3, "cars, trucks and other vehicles drive by."),
        (4, "nothing to see."),
        (5, "Animals such as cats, dogs and birds again."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.pattern, r.hypernym, r.hyponym): r.n_docs
           for r in hearst_hypernyms(df, "text", "doc_id").collect()}
    assert got == {
        ("such_as", "animals", "cats"): 3,
        ("such_as", "animals", "dogs"): 2,
        ("such_as", "animals", "birds"): 2,
        ("and_other", "vehicles", "cars"): 1,
        ("and_other", "vehicles", "trucks"): 1,
    }


def test_hearst_oxford_comma_and_case(spark):
    rows = [(1, "Metals such as iron, copper, and gold conduct.")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.hyponym for r in
           hearst_hypernyms(df, "text", "doc_id").collect()}
    assert got == {"iron", "copper", "gold"}
