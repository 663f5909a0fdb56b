"""End-to-end Spark annotate stage vs the single-process kernel."""

import pytest

from python_mecab_ner_spark.kernel.lexicon import load_gazetteer_rows
from python_mecab_ner_spark.kernel.matcher import (CompiledGazetteer,
                                                   find_mentions,
                                                   infer_extend, ner_spans)
from python_mecab_ner_spark.kernel.tokenizer import tokenize
from python_mecab_ner_spark.kernel.triples import extract_triples
from python_mecab_ner_spark.operators.annotate import (annotate_pages,
                                                       mentions_table,
                                                       triples_table)
from python_mecab_ner_spark.operators.schemas import annotated_schema
from python_mecab_ner_spark.sources.corpus import gen_pages, pages_dataframe
from python_mecab_ner_spark.sources.gazetteer import broadcast_rows


@pytest.fixture(scope="module")
def annotated(spark):
    pages = pages_dataframe(spark, 120, seed=11, partitions=4)
    bc = broadcast_rows(spark)
    return annotate_pages(pages, bc).cache()


def test_no_shuffle_in_plan(spark, annotated):
    plan = annotated._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # extract path must be narrow


def test_matches_kernel(annotated):
    rows = load_gazetteer_rows()
    gaz = CompiledGazetteer(rows)
    got = {r.url: r for r in annotated.collect()}
    pages = gen_pages(120, seed=11)
    assert len(got) == len(pages)
    for p in pages:
        toks = tokenize(p["text"])
        mentions = infer_extend(find_mentions(toks, gaz), toks)
        spans = ner_spans(toks, mentions)
        trips = extract_triples(toks, spans)
        r = got[p["url"]]
        assert [(m.start, m.end, m.surface) for m in mentions] == \
            [(m["start"], m["end"], m["surface"]) for m in r.mentions]
        assert [(t[0], t[1], t[2]) for t in trips] == \
            [(t["subj"], t["pred"], t["obj"]) for t in r.triples]


def test_projections(annotated):
    m = mentions_table(annotated)
    t = triples_table(annotated)
    assert m.columns == ["url", "start", "end", "surface", "large", "small"]
    assert {"url", "subj", "pred", "obj", "conf"} <= set(t.columns)
    assert m.count() > 0 and t.count() > 0


def test_context_tokens_slim_agreement(spark):
    """with_tokens='context' emits exactly the 4-field slim struct and
    tokens_table over it equals tokens_table over the full struct; the
    tokenize-only path (tokenize_pages) reproduces the full token
    arrays bit-for-bit (the posseq restore contract)."""
    from python_mecab_ner_spark.kernel.tokenizer import TOKEN_FIELDS
    from python_mecab_ner_spark.operators.annotate import (tokenize_pages,
                                                           tokens_table)

    pages = pages_dataframe(spark, 40, seed=13, partitions=2).cache()
    bc = broadcast_rows(spark)
    slim = annotate_pages(pages, bc, with_tokens="context")
    full = annotate_pages(pages, bc, with_tokens=True)
    assert [f.name for f in slim.schema["tokens"].dataType.elementType] == \
        ["word", "pos", "begin", "end"]
    key = ["url", "idx", "word", "pos", "begin", "end"]
    a = sorted(map(tuple, tokens_table(slim).select(*key).collect()))
    b = sorted(map(tuple, tokens_table(full).select(*key).collect()))
    assert a == b and a

    tok_only = {r.url: r.tokens for r in tokenize_pages(pages).collect()}
    for r in full.select("url", "tokens").collect():
        got = [tuple(t[f] for f in TOKEN_FIELDS) for t in tok_only[r.url]]
        want = [tuple(t[f] for f in TOKEN_FIELDS) for t in r.tokens]
        assert got == want
    pages.unpersist()


def test_en_rows_pass_through(annotated):
    en = annotated.filter("lang = 'en'").collect()
    assert en, "expected some en rows"
    for r in en:
        assert r.mentions == [] and r.triples == []
        assert r.extracted_text  # tokenized, zero mentions


def _expected_row(text, gaz, with_tokens=False, with_triples=True,
                  tokenize_fn=tokenize):
    """annotate_pages' documented output for one page, computed on the
    driver straight from the kernel."""
    from python_mecab_ner_spark.kernel.tokenizer import TOKEN_FIELDS
    toks = tokenize_fn(text or "")
    mentions = spans = trips = []
    if toks:
        mentions = infer_extend(find_mentions(toks, gaz), toks)
        spans = ner_spans(toks, mentions)
        if with_triples:
            trips = extract_triples(toks, spans)
    row = {
        "extracted_text": " ".join(t["word"] for t in toks),
        "mentions": [{"start": m.start, "end": m.end, "surface": m.surface,
                      "large": m.large, "small": m.small} for m in mentions],
        "spans": [{"start": s.start, "end": s.end, "word": s.word,
                   "large": s.large, "small": s.small} for s in spans],
        "triples": [dict(zip(("subj", "pred", "obj", "subj_start",
                              "subj_end", "obj_start", "obj_end", "conf"), t))
                    for t in trips],
        "n_tokens": len(toks),
    }
    if with_tokens:
        fields = ("word", "pos", "begin", "end") \
            if with_tokens == "context" else TOKEN_FIELDS
        row["tokens"] = [{f: t[f] for f in fields} for t in toks]
    return row


@pytest.fixture(scope="module")
def pin_pages(spark):
    """Generated pages plus the edge cases: null and empty text, and a
    page that tokenizes to nothing the gazetteer knows."""
    import datetime

    pages = [(p["url"], p["warc_ts"], p["text"], p["lang"])
             for p in gen_pages(30, seed=17)]
    ts = datetime.datetime(2026, 3, 4, 5, 6, 7)
    pages += [("edge/null", ts, None, "ko"), ("edge/empty", ts, "", None),
              ("edge/plain", None, "그리고 또 123 abc", "ko")]
    df = spark.createDataFrame(
        pages, "url string, warc_ts timestamp, text string, lang string")
    return pages, df


@pytest.mark.parametrize("with_tokens,with_triples", [
    (False, True), (True, True), ("context", True), (False, False)])
def test_annotate_pinned_rows(spark, pin_pages, with_tokens, with_triples):
    """annotate_pages output, row for row and field for field, against
    the kernel: null/empty text give empty lists, "" and 0 tokens; the
    pass-through columns keep their values and nulls."""
    pages, df = pin_pages
    gaz = CompiledGazetteer(load_gazetteer_rows())
    ann = annotate_pages(df, broadcast_rows(spark), with_tokens=with_tokens,
                         with_triples=with_triples)
    assert ann.schema == annotated_schema(with_tokens)
    got = {r.url: r.asDict(recursive=True) for r in ann.collect()}
    assert len(got) == len(pages)
    for url, warc_ts, text, lang in pages:
        want = _expected_row(text, gaz, with_tokens, with_triples)
        want.update(url=url, warc_ts=warc_ts, lang=lang)
        assert got[url] == want, url
    for url in ("edge/null", "edge/empty"):
        assert got[url]["n_tokens"] == 0 and got[url]["extracted_text"] == ""
        assert got[url]["mentions"] == got[url]["spans"] == []
    plain = got["edge/plain"]
    assert plain["n_tokens"] > 0 and plain["mentions"] == []
    assert any(r["triples"] for r in got.values()) == with_triples


def test_annotate_absent_passthrough_columns(spark, pin_pages):
    """Input without warc_ts or lang gives null columns of the output
    type, not an error."""
    _, df = pin_pages
    ann = annotate_pages(df.select("url", "text"), broadcast_rows(spark))
    assert ann.schema == annotated_schema(False)
    rows = ann.select("url", "warc_ts", "lang", "n_tokens").collect()
    assert len(rows) == df.count()
    assert all(r.warc_ts is None and r.lang is None for r in rows)
    assert sum(r.n_tokens for r in rows) > 0


def test_annotate_tokenizer_seam_rows(spark):
    """A caller-supplied tokenizer's records flow through untouched:
    whitespace tokens tagged NNP, matched against a gazetteer compiled
    through the same tokenizer."""

    def ws_tokenizer(text):
        toks, begin = [], 0
        for i, w in enumerate(text.split()):
            begin = text.index(w, begin)
            toks.append({"word": w, "pos": "NNP", "has_jongseong": None,
                         "reading": w, "type": None, "space": i,
                         "mecab_token": i, "mecab_compound": i,
                         "begin": begin, "end": begin + len(w),
                         "label": "O"})
            begin += len(w)
        return toks

    rows = [("ner_example_location_city", "c", "서울", "서울"),
            ("ner_example_location_country", "n", "네팔", "네팔")]
    bc = spark.sparkContext.broadcast(rows)
    texts = {"s1": "서울 에서 네팔 까지", "s2": "아무 것도 없다", "s3": None}
    df = spark.createDataFrame(list(texts.items()), "url string, text string")
    got = {r.url: r.asDict(recursive=True)
           for r in annotate_pages(df, bc, with_tokens=True,
                                   tokenizer=ws_tokenizer).collect()}
    gaz = CompiledGazetteer(rows)
    for url, text in texts.items():
        want = _expected_row(text, gaz, True, tokenize_fn=ws_tokenizer)
        want.update(url=url, warc_ts=None, lang=None)
        assert got[url] == want, url
    assert [m["surface"] for m in got["s1"]["mentions"]] == ["서울", "네팔"]
