"""BIO writeback (reference L3/L15) + KLUE-NER JSON source (S7).

The label-vector golden ports the reference's
tests/test_category_save.py:108 answer — the entity 좋은 차 labels as
[B-food, I-food, I-food] over the morphemes 좋/은/차 — through our
span->BIO operator (the reference reaches the same vector via
set_bi_tag + set_mecab_label)."""

from pathlib import Path

from python_mecab_ner_spark.kernel.bio import (bio_from_char_spans,
                                               bio_vector,
                                               char_spans_to_token_spans)

KLUE_FIXTURE = str(Path(__file__).resolve().parent / "data"
                   / "klue_fixture.json")


def test_bio_vector_reference_golden():
    """reference test_category_save.py:108: 좋은 차 -> B-food I-food
    I-food over 좋/은/차 (tokens 0..2 of the 7-morpheme sentence)."""
    labels = bio_vector(7, [(0, 3, "food")])
    assert labels == ["B-food", "I-food", "I-food", "O", "O", "O", "O"]


def test_bio_vector_first_writer_wins():
    # overlapping spans: the (start asc, end desc, label asc) order
    # writes first and is never overwritten (reference backtracking
    # guard, mecab_category_storage.py:263)
    labels = bio_vector(5, [(1, 4, "x"), (2, 5, "y")])
    assert labels == ["O", "B-x", "I-x", "I-x", "I-y"]
    # same start: longer span wins the shared prefix
    labels2 = bio_vector(4, [(0, 2, "a"), (0, 4, "b")])
    assert labels2 == ["B-b", "I-b", "I-b", "I-b"]


def test_char_span_alignment_kernel():
    from python_mecab_ner_spark.kernel.tokenizer import tokenize
    toks = tokenize("경복궁에 갔어")
    spans = char_spans_to_token_spans(toks, [(0, 3, "LC")])
    assert len(spans) == 1
    s, e, lab = spans[0]
    assert lab == "LC"
    # the covered tokens reconstruct exactly the NE surface
    assert "".join(t["word"] for t in toks[s:e]) == "경복궁"
    labels = bio_from_char_spans(toks, [(0, 3, "LC")])
    assert labels[s] == "B-LC"
    assert all(l == "I-LC" for l in labels[s + 1:e])
    assert all(l == "O" for l in labels[e:])


def test_bio_zero_width_span_emits_nothing(spark):
    """A degenerate start==end mention stamps no token (Spark sequence
    would otherwise auto-step DOWNWARD and label the token before the
    span; the kernel twin emits nothing)."""
    from python_mecab_ner_spark.operators.bio import bio_from_mentions
    toks = spark.createDataFrame([("u", 0, "a"), ("u", 1, "b")],
                                 "url string, idx int, word string")
    m = spark.createDataFrame([("u", 1, 1, "X")],
                              "url string, start int, end int, label string")
    out = {r.idx: r.bio for r in bio_from_mentions(toks, m).collect()}
    assert out == {0: "O", 1: "O"}
    assert bio_vector(2, [(1, 1, "X")]) == ["O", "O"]


def test_klue_ingest(spark):
    from python_mecab_ner_spark.sources.klue import klue_ner, klue_sentences
    sents = klue_sentences(spark, KLUE_FIXTURE).collect()
    assert len(sents) == 4
    ner = klue_ner(spark, KLUE_FIXTURE).collect()
    assert len(ner) == 5
    by_doc = {}
    for r in ner:
        by_doc.setdefault(r.doc_id, []).append(r)
        # char spans are faithful: form[begin:end] == ne_form
        assert r.form[r.ne_begin:r.ne_end] == r.ne_form
    assert set(by_doc) == {"doc0001", "doc0002"}


def test_klue_bio_end_to_end(spark):
    """KLUE pages -> annotate -> char-span alignment -> BIO export,
    agreeing token-for-token with the kernel twin."""
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.kernel.tokenizer import tokenize
    from python_mecab_ner_spark.operators.annotate import (annotate_pages,
                                                           tokens_table)
    from python_mecab_ner_spark.operators.bio import (bio_export,
                                                      char_spans_to_token_spans
                                                      as spark_char_spans)
    from python_mecab_ner_spark.sources.gazetteer import broadcast_rows
    from python_mecab_ner_spark.sources.klue import klue_ner, klue_pages

    pages = klue_pages(spark, KLUE_FIXTURE)
    ann = annotate_pages(pages, broadcast_rows(spark), with_tokens=True)
    toks = tokens_table(ann)
    ne = (klue_ner(spark, KLUE_FIXTURE)
          .select(F.concat_ws("#", "doc_id",
                              F.col("sent_idx").cast("string")).alias("url"),
                  "ne_begin", "ne_end", "label"))
    spans = spark_char_spans(toks, ne)
    out = bio_export(toks, spans, label_col="label").collect()

    got = {}
    for r in sorted(out, key=lambda r: (r.url, r.idx)):
        got.setdefault(r.url, []).append(r.bio)

    # kernel twin per sentence
    sent_rows = {f"{r.doc_id}#{r.sent_idx}": r
                 for r in klue_ner(spark, KLUE_FIXTURE)
                 .select("doc_id", "sent_idx", "form").distinct().collect()}
    ne_rows = {}
    for r in klue_ner(spark, KLUE_FIXTURE).collect():
        ne_rows.setdefault(f"{r.doc_id}#{r.sent_idx}", []).append(
            (r.ne_begin, r.ne_end, r.label))
    for url, row in sent_rows.items():
        expected = bio_from_char_spans(tokenize(row.form), ne_rows[url])
        assert got[url] == expected, (url, got[url], expected)
    # and at least one multi-token B-/I- sequence exists
    assert any("I-" in l for ls in got.values() for l in ls)
