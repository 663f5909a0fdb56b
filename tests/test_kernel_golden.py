"""Byte-identity guard for the kernel: a sha256 over a canonical JSON
dump of every token record and of annotate's per-doc kernel outputs
(mentions, spans, triples, extracted_text, n_tokens), for a generated
corpus and for hand-written edge texts.  The digests were computed
with the dict-per-token kernel that the columnar one replaced; any
change in tokenization, matching, span merge or triple extraction
changes them."""

import hashlib
import json

import pytest

from python_mecab_ner_spark.kernel.lexicon import (default_lexicon,
                                                   load_gazetteer_rows)
from python_mecab_ner_spark.kernel.matcher import (CompiledGazetteer,
                                                   find_mentions,
                                                   infer_extend, ner_spans)
from python_mecab_ner_spark.kernel.tokenizer import tokenize
from python_mecab_ner_spark.kernel.triples import extract_triples
from python_mecab_ner_spark.sources.corpus import gen_pages

EDGE_TEXTS = [
    "",
    " ",
    "   앞 공백",
    "뒤 공백   ",
    "반복된   공백이    많다",
    "탭\t으로\t나뉜 글",
    "줄\n바꿈\n\n두 번",
    "\t\n 섞인 \r\n 공백 \t",
    "아이유는 노래했다",
    "아이유는　블루밍을 노래했다",
    "아이유는\x1c노래했다",
    "삼척 해양 레일바이크",
    "삼척 해양 레일바이크를 타러 갔다",
    "나는 삼척 해양 레일바이크에서 아이유를 만났다.",
    "삼척 해양 열차",
    "abc123def 456 7a8b",
    "Orangestar 63빌딩 N서울타워 iPhone15Pro",
    "ORANGESTAR는 OrangeStar다",
    "아이유는 너랑 나를 노래했다. 아이묭은 블루밍을 노래했다",
    "?!. 아이유! 블루밍? 아이묭.",
]


def _dump(texts, lex, gaz):
    out = []
    for text in texts:
        toks = tokenize(text, lex)
        raw = infer_extend(find_mentions(toks, gaz), toks)
        spans = ner_spans(toks, raw)
        out.append({
            "tokens": [dict(t) for t in toks],
            "mentions": [(m.start, m.end, m.surface, m.large, m.small)
                         for m in raw],
            "spans": [(s.start, s.end, s.word, s.large, s.small)
                      for s in spans],
            "triples": [list(t) for t in extract_triples(toks, spans)],
            "extracted_text": " ".join(t["word"] for t in toks),
            "n_tokens": len(toks),
        })
    blob = json.dumps(out, ensure_ascii=False, sort_keys=True,
                      separators=(",", ":"))
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


@pytest.fixture(scope="module")
def kernel():
    return default_lexicon(), CompiledGazetteer(load_gazetteer_rows())


def test_corpus_golden(kernel):
    texts = [p["text"] for p in gen_pages(2000, seed=7)]
    assert _dump(texts, *kernel) == \
        "4570a878c5fb49dea88f2f611102ede796a02001b58c59142e72855d3bf09458"


def test_edge_texts_golden(kernel):
    assert _dump(EDGE_TEXTS, *kernel) == \
        "1f799a1bdbac3a0161cb9af60fba12146b584f7336dee315d9ff362e4a879b17"
