"""POS-sequence scan (reference L7 contains/get_pos_seq_category)."""

from types import SimpleNamespace

from python_mecab_ner_spark.kernel.posseq import PosSeqScanner
from python_mecab_ner_spark.operators import posseq


def test_scanner_longest_first_nonoverlap():
    sc = PosSeqScanner([("NNG", "NNG"), ("NNG",), ("NNP",)])
    # [NNG NNG NNG JKB NNP]: the 2-gram wins tokens 0-2 (longest
    # first), the unigram takes the leftover NNG, NNP matches alone
    spans = sc.scan(["NNG", "NNG", "NNG", "JKB", "NNP"])
    assert spans == [(0, 2, "NNG+NNG"), (2, 3, "NNG"), (4, 5, "NNP")]


def test_scanner_reference_masking_semantics():
    # an accepted long span masks its tokens: nested shorter sequences
    # cannot re-match inside it (reference CK masking,
    # mecab_category_storage.py:525-528)
    sc = PosSeqScanner([("VA", "ETM", "NNG"), ("NNG",)])
    spans = sc.scan(["VA", "ETM", "NNG", "JKO"])
    assert spans == [(0, 3, "VA+ETM+NNG")]


def test_one_scanner_per_worker(monkeypatch):
    """A newer pattern broadcast replaces the worker's scanner instead of
    adding one."""
    monkeypatch.setattr(posseq, "_SCANNER_CACHE", {})
    bc = SimpleNamespace(value=["NNG+NNG", "NNP"])
    built = [posseq._scanner(bc, bc_id) for bc_id in (1, 2, 2)]
    assert built[0] is not built[1] and built[1] is built[2]
    assert list(posseq._SCANNER_CACHE.items()) == [(2, built[1])]


def test_learn_and_scan_spark(spark):
    """Patterns learned from the corpus' own mentions re-find those
    mentions (plus same-shaped unseen spans) in one scan pass."""
    from python_mecab_ner_spark.operators.annotate import (annotate_pages,
                                                           mentions_table,
                                                           tokens_table)
    from python_mecab_ner_spark.operators.posseq import (
        learn_posseq_patterns, posseq_candidates)
    from python_mecab_ner_spark.sources.corpus import pages_dataframe
    from python_mecab_ner_spark.sources.gazetteer import broadcast_rows

    ann = annotate_pages(pages_dataframe(spark, 40, seed=7),
                         broadcast_rows(spark), with_tokens=True).persist()
    mentions = mentions_table(ann)
    ctx = tokens_table(ann)
    pats_df = learn_posseq_patterns(ctx, mentions)
    pats = [r.pos_seq for r in pats_df.collect()]
    assert pats, "no patterns learned"
    bc = spark.sparkContext.broadcast(pats)
    cand = posseq_candidates(ann, bc).collect()
    assert cand
    patset = set(pats)
    for r in cand:
        assert r.pos_seq in patset
        assert r.end > r.start and r.surface
    # recall: a large share of mention span positions are covered by
    # some candidate (not all: longest-first masking can merge spans)
    m = [(r.url, r.start, r.end) for r in mentions.collect()]
    covered = {(r.url, i) for r in cand for i in range(r.start, r.end)}
    hit = sum(1 for url, s, e in m
              if all((url, i) in covered for i in range(s, e)))
    assert hit / len(m) > 0.6, (hit, len(m))
