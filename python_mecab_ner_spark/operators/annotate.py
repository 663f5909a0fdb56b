"""Fused annotation stage: pages -> tokens/mentions/spans/triples.

Design for 100 TB: the whole extract path (tokenize T1-T11, gazetteer
match M1-M11, triple extraction) is row-local, so it runs as ONE
Arrow-batched mapInPandas over the pages scan — a single narrow stage
with zero shuffles that scales linearly with executors.  The compiled
gazetteer rows are broadcast once; each executor builds the
Aho-Corasick automaton lazily on first use and caches it
process-wide (fixing the reference's per-sentence gazetteer re-read,
mecab_ner.py:146, and per-instance tagger load, mecab_parser.py:116).

Column pruning: only (url, warc_ts, text, lang) are read — the `html`
binary column never leaves the scan when the caller selects before
this stage (plans.pipeline does, for extract_graph and run_pipeline).
"""

from __future__ import annotations

import pandas as pd

from ..kernel.lexicon import default_lexicon
from ..kernel.matcher import CompiledGazetteer
from ..kernel.tokenizer import tokenize, words
from ..kernel.triples import extract_triples
from .schemas import annotated_schema

# per-executor automaton cache: key -> CompiledGazetteer
_GAZ_CACHE: dict = {}


def _executor_gazetteer(rows_bc, bc_id, search_category) -> CompiledGazetteer:
    # keyed by Spark's monotonically increasing broadcast id (resolved
    # driver-side in annotate_pages) — NOT id(rows_bc), which CPython
    # can reuse after GC and silently alias two different broadcasts
    key = (bc_id, tuple(search_category) if search_category else None)
    gaz = _GAZ_CACHE.get(key)
    if gaz is None:
        gaz = CompiledGazetteer(rows_bc.value, search_category)
        _GAZ_CACHE[key] = gaz
    return gaz


_CTX_FIELDS = ("word", "pos", "begin", "end")


def annotate_pages(pages_df, gazetteer_rows_bc, search_category=None,
                   infer=True, with_tokens=False, with_triples=True,
                   tokenizer=None):
    """pages (url, warc_ts, text, lang[, html]) -> annotated DataFrame.

    gazetteer_rows_bc: sc.broadcast([(large, small, surface, tokenized)]).
    Returns one row per page with mention/span/triple arrays; explode
    with mentions_table()/triples_table() for relational downstream.

    with_tokens: False | True | "context".  "context" emits the slim
    4-field CONTEXT_TOKEN_STRUCT — everything tokens_table consumers
    need at ~1/3 the Arrow/cache payload of the full 11-field struct;
    pass True only for paths that restore surfaces from token slices
    (posseq; see tokenize_pages).

    tokenizer: optional `text -> [token dict]` callable replacing the
    pinned-lexicon kernel tokenizer — the real-MeCab swap seam
    (kernel.tagger_adapter.tokens_from_tagger wraps a real tagger into
    this shape).  Must be picklable (ships to executors); the
    gazetteer rows must have been tokenized by the SAME tokenizer.
    """
    schema = annotated_schema(with_tokens)
    slim = with_tokens == "context"
    cols = [c for c in ("url", "warc_ts", "text", "lang") if c in pages_df.columns]
    bc_id = gazetteer_rows_bc._jbroadcast.id()  # stable unique cache key

    def process(batches):
        from ..kernel.matcher import find_mentions, infer_extend, ner_spans
        lex = default_lexicon() if tokenizer is None else None
        gaz = _executor_gazetteer(gazetteer_rows_bc, bc_id, search_category)
        for pdf in batches:
            out = {k: [] for k in schema.fieldNames()}
            for row in pdf.itertuples(index=False):
                text = row.text or ""
                toks = tokenize(text, lex) if tokenizer is None \
                    else tokenizer(text)
                mentions_kept, spans, triples = [], [], []
                if toks:
                    raw = find_mentions(toks, gaz)
                    if infer:
                        raw = infer_extend(raw, toks)
                    span_objs = ner_spans(toks, raw)
                    mentions_kept = [
                        {"start": m.start, "end": m.end, "surface": m.surface,
                         "large": m.large, "small": m.small} for m in raw]
                    spans = [
                        {"start": s.start, "end": s.end, "word": s.word,
                         "large": s.large, "small": s.small} for s in span_objs]
                    if with_triples:
                        triples = [
                            {"subj": t[0], "pred": t[1], "obj": t[2],
                             "subj_start": t[3], "subj_end": t[4],
                             "obj_start": t[5], "obj_end": t[6], "conf": t[7]}
                            for t in extract_triples(toks, span_objs)]
                out["url"].append(row.url)
                out["warc_ts"].append(getattr(row, "warc_ts", None))
                out["lang"].append(getattr(row, "lang", None))
                out["extracted_text"].append(" ".join(words(toks)))
                if with_tokens:
                    out["tokens"].append(
                        [{f: t[f] for f in _CTX_FIELDS} for t in toks]
                        if slim else toks)
                out["mentions"].append(mentions_kept)
                out["spans"].append(spans)
                out["triples"].append(triples)
                out["n_tokens"].append(len(toks))
            yield pd.DataFrame(out)

    return pages_df.select(*cols).mapInPandas(process, schema=schema)


def tokenize_pages(pages_df):
    """pages (url, text) -> (url, tokens) with the FULL token struct —
    the input of surface-restoring consumers (posseq_candidates needs
    reading/type/space for restore_tokens).  Tokenize-only: no
    gazetteer, no matching — a strictly cheaper narrow stage than
    annotate_pages for paths that only need token arrays."""
    from pyspark.sql import types as T

    from .schemas import TOKEN_STRUCT
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(TOKEN_STRUCT), True),
    ])

    def process(batches):
        from ..kernel.lexicon import default_lexicon
        from ..kernel.tokenizer import tokenize
        lex = default_lexicon()
        for pdf in batches:
            out = {"url": [], "tokens": []}
            for row in pdf.itertuples(index=False):
                out["url"].append(row.url)
                out["tokens"].append(tokenize(row.text or "", lex))
            yield pd.DataFrame(out)

    return pages_df.select("url", "text").mapInPandas(process, schema=schema)


def mentions_table(annotated_df):
    """Exploded mentions: (url, start, end, surface, large, small) —
    the FIXTURES.md §8 mentions table (token-index half-open spans)."""
    from pyspark.sql import functions as F
    return (annotated_df
            .select("url", F.explode("mentions").alias("m"))
            .select("url", "m.start", "m.end", "m.surface", "m.large", "m.small"))


def tokens_table(annotated_df):
    """Exploded token context: (url, idx, word, pos, begin, end) — the
    input of the learned-statistics builds, the neighbor-evidence
    scoring, and the char-span BIO alignment (requires
    annotate_pages(..., with_tokens=True or "context")).  Downstream operators
    select subsets; column pruning drops the rest."""
    from pyspark.sql import functions as F
    return (annotated_df
            .select("url", F.posexplode("tokens").alias("idx", "t"))
            .select("url", "idx", F.col("t.word").alias("word"),
                    F.col("t.pos").alias("pos"),
                    F.col("t.begin").alias("begin"),
                    F.col("t.end").alias("end")))


def spans_table(annotated_df):
    from pyspark.sql import functions as F
    return (annotated_df
            .select("url", F.explode("spans").alias("s"))
            .select("url", "s.start", "s.end", "s.word", "s.large", "s.small"))


def triples_table(annotated_df):
    """Exploded triples: (url, subj, pred, obj, spans, conf)."""
    from pyspark.sql import functions as F
    return (annotated_df
            .select("url", "warc_ts", F.explode("triples").alias("t"))
            .select("url", "warc_ts", "t.subj", "t.pred", "t.obj",
                    "t.subj_start", "t.subj_end", "t.obj_start", "t.obj_end",
                    "t.conf"))
