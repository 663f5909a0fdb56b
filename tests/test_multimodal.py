"""ANN / embedding operators: the adaptive LSH width."""


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
