"""ANN / embedding operators: banded sign-LSH near-dup pairs against a
numpy twin, the adaptive LSH width, and IVF recall against brute
force."""

from python_mecab_ner_spark.operators.ann import embedding_neardup_pairs


def test_embedding_neardup_pairs(spark, sf_dir):
    from python_mecab_ner_spark.operators.ann import adaptive_bits
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_neardup_pairs(e, threshold=0.4, n_bands=4).collect()
    assert all(p.vec_a < p.vec_b for p in pairs)
    # verify against exact numpy cosine within a numpy twin of the
    # banded corpus-scaled LSH (strided dims, any-band collision)
    import numpy as np
    rows = e.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in rows}
    bits, n_bands = adaptive_bits(len(vecs)), 4

    def band_keys(v):
        return tuple(
            sum(1 << i for i in range(bits) if v[b + i * n_bands] >= 0)
            for b in range(n_bands))

    want = set()
    items = sorted(vecs.items())
    for i, (ida, va) in enumerate(items):
        for idb, vb in items[i + 1:]:
            if not any(x == y for x, y in zip(band_keys(va), band_keys(vb))):
                continue
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if round(cos, 6) >= 0.4:
                want.add((ida, idb))
    assert {(p.vec_a, p.vec_b) for p in pairs} == want


def test_adaptive_bits_scales_with_corpus():
    """Fixed-width LSH decays to O(n^2/2^b); the adaptive width must
    grow ~log2(n) so expected bucket size stays at the target."""
    from python_mecab_ner_spark.operators.ann import adaptive_bits
    assert adaptive_bits(64) == 1          # floor
    assert adaptive_bits(64 * 2 ** 5) == 5
    assert adaptive_bits(64 * 2 ** 5 + 1) == 6   # ceil
    assert adaptive_bits(10 ** 12) == 16   # clamp at max_bits
    b1, b2 = adaptive_bits(10 ** 6), adaptive_bits(10 ** 8)
    assert b2 > b1


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF probing 4/16 cells must still find most of the exact top-10
    (and exactly the brute-force order among what it returns)."""
    from python_mecab_ner_spark.operators.ann import brute_force_topk, ivf_topk
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in
            e.filter("vec_id = 0").select("embedding").first()[0]]
    exact = [r.vec_id for r in
             brute_force_topk(e, qvec, k=10).orderBy("rank").collect()]
    ivf = [r.vec_id for r in
           ivf_topk(e, qvec, k=10, n_cells=16, n_probe=4)
           .orderBy("rank").collect()]
    # the query vector itself lives in a probed cell -> always found
    assert ivf[0] == exact[0] == 0
    recall = len(set(ivf) & set(exact)) / len(exact)
    assert recall >= 0.5, (recall, ivf, exact)
    # ivf results are ordered consistently with the exact ranking
    exact_pos = {v: i for i, v in enumerate(exact)}
    shared = [v for v in ivf if v in exact_pos]
    assert shared == sorted(shared, key=lambda v: exact_pos[v])
