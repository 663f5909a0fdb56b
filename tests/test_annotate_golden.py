"""Byte-identity guard for annotate's Arrow output: a sha256 over the
output schema and a canonical JSON dump of the RecordBatch that
`_map_columnar` builds for one batch of pages, under each output schema
annotate and tokenize emit.  The digests were computed with the emitter
that buffered a batch's kernel records and flattened them at batch
end; any change in how the nested columns are assembled changes them.
"""

import datetime as dt
import hashlib
import json

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from test_kernel_golden import EDGE_TEXTS

from python_mecab_ner_spark.kernel.lexicon import (default_lexicon,
                                                   load_gazetteer_rows)
from python_mecab_ner_spark.kernel.matcher import (CompiledGazetteer,
                                                   find_mentions,
                                                   infer_extend, ner_spans)
from python_mecab_ner_spark.kernel.tokenizer import tokenize
from python_mecab_ner_spark.kernel.triples import extract_triples
from python_mecab_ner_spark.operators.annotate import _map_columnar
from python_mecab_ner_spark.operators.schemas import (TOKENIZED_SCHEMA,
                                                      annotated_schema)
from python_mecab_ner_spark.sources.corpus import gen_pages

PAGES_ARROW = pa.schema([("url", pa.string()),
                         ("warc_ts", pa.timestamp("us", tz="UTC")),
                         ("text", pa.string()), ("lang", pa.string())])

ANNOTATED_GOLDEN = {
    False: "1f4d3fe7d5fe04b4dfcde07521c75da7bcadb891a40ea0b2bb40c7cbb1079196",
    "context":
        "6f1c513abea1e6123eb062ac5f328762de1d3ee481ccdc91357a4b2f5dc2b9b1",
    True: "c021f4abe3ee4b9e58c62e54354d5e3c3d168aa76b22c2ea00265d1fc5e78b62",
}


def page_batch():
    """gen_pages(2000, seed=7), then one page per edge text, then a page
    with a null text."""
    pages = [{k: p[k] for k in PAGES_ARROW.names}
             for p in gen_pages(2000, seed=7)]
    ts = dt.datetime(2026, 1, 1)
    pages += [{"url": f"edge/{i}", "warc_ts": ts, "text": t, "lang": "ko"}
              for i, t in enumerate(EDGE_TEXTS)]
    pages.append({"url": "edge/null", "warc_ts": ts, "text": None,
                  "lang": None})
    return pa.RecordBatch.from_pylist(pages, schema=PAGES_ARROW)


@pytest.fixture(scope="module")
def kernel():
    """(lexicon, per-page call): annotate_pages' kernel calls, restated
    so the emitter is tested apart from annotate's wiring."""
    lex = default_lexicon()
    gaz = CompiledGazetteer(load_gazetteer_rows())

    def doc(text):
        toks = tokenize(text, lex)
        raw = infer_extend(find_mentions(toks, gaz), toks)
        spans = ner_spans(toks, raw)
        return {"tokens": toks, "mentions": raw, "spans": spans,
                "triples": extract_triples(toks, spans),
                "n_tokens": len(toks.word),
                "extracted_text": " ".join(toks.word)}
    return lex, doc


@pytest.fixture(scope="module")
def batch():
    return page_batch()


def digest(out: pa.RecordBatch) -> str:
    blob = str(out.schema) + json.dumps(
        out.to_pylist(), ensure_ascii=False, sort_keys=True,
        separators=(",", ":"), default=lambda ts: ts.isoformat())
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def run(batch, schema, doc) -> pa.RecordBatch:
    (out,) = _map_columnar([batch], to_arrow_schema(schema), doc)
    assert out.num_rows == batch.num_rows
    return out


@pytest.mark.parametrize("with_tokens", ANNOTATED_GOLDEN)
def test_annotated_golden(kernel, batch, with_tokens):
    _, doc = kernel
    out = run(batch, annotated_schema(with_tokens), doc)
    assert digest(out) == ANNOTATED_GOLDEN[with_tokens]


def test_tokenized_golden(kernel, batch):
    lex, _ = kernel
    out = run(batch, TOKENIZED_SCHEMA,
              lambda text: {"tokens": tokenize(text, lex)})
    assert digest(out) == \
        "6980c0a49f4a1c7f7c098483df407b83c7637dd808ef652ff06c7ed60f60b48f"
