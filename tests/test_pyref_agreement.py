"""P/R harness: optimized AC-replay engine vs the naive pyref oracle
(independent re-implementation of the reference scan).  The BASELINE
gate is P/R >= 0.95; the engines are expected to agree exactly on the
pinned-vocabulary corpus."""

from python_mecab_ner_spark.kernel.lexicon import load_gazetteer_rows
from python_mecab_ner_spark.kernel.matcher import (CompiledGazetteer,
                                                   find_mentions,
                                                   infer_extend, ner_parse,
                                                   ner_spans)
from python_mecab_ner_spark.kernel.pyref import (pyref_ners, pyref_spans,
                                                 pyref_triples)
from python_mecab_ner_spark.kernel.tokenizer import tokenize
from python_mecab_ner_spark.kernel.triples import extract_triples
from python_mecab_ner_spark.sources.corpus import gen_pages


def prf(pred, gold):
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 1.0
    r = tp / len(gold) if gold else 1.0
    return p, r


def test_engine_matches_pyref_on_corpus():
    rows = load_gazetteer_rows()
    gaz = CompiledGazetteer(rows)
    pred, gold = set(), set()
    for page in gen_pages(300, seed=7):
        toks = tokenize(page["text"])
        parsed, _ = ner_parse(toks, gaz)
        engine = [(w, lg, sm) for w, pos, lg, sm in parsed if pos == "ner"]
        for i, ent in enumerate(engine):
            pred.add((page["url"], i) + ent)
        for i, ent in enumerate(pyref_ners(page["text"], rows)):
            gold.add((page["url"], i) + ent)
    assert gold, "oracle produced no entities — corpus broken"
    p, r = prf(pred, gold)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # stronger: exact agreement expected on pinned vocabulary
    assert pred == gold


def first_category(spans):
    """The engine keeps every category of a merged run; the reference
    reports the first one per (start, end), as pyref_spans does."""
    out, seen = [], set()
    for sp in spans:
        if (sp.start, sp.end) not in seen:
            seen.add((sp.start, sp.end))
            out.append((sp.start, sp.end, sp.word, sp.large, sp.small))
    return out


def test_engine_spans_and_triples_match_pyref():
    """Exact span and triple agreement on a sample holding phrase-pin
    and English pages, not only the NER tuples."""
    rows = load_gazetteer_rows()
    gaz = CompiledGazetteer(rows)
    pages = gen_pages(300, seed=7)
    assert any("삼척 해양 레일바이크" in p["text"] for p in pages)
    assert any(p["lang"] == "en" for p in pages)
    n_spans = n_triples = 0
    for page in pages:
        text = page["text"]
        toks = tokenize(text)
        spans = ner_spans(toks, infer_extend(find_mentions(toks, gaz), toks))
        assert first_category(spans) == pyref_spans(text, rows), page["url"]
        triples = extract_triples(toks, spans)
        assert triples == pyref_triples(text, rows), page["url"]
        n_spans += len(spans)
        n_triples += len(triples)
    assert n_spans and n_triples
