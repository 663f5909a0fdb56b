"""Fused annotation stage: pages -> tokens/mentions/spans/triples.

Design for 100 TB: the whole extract path (tokenize T1-T11, gazetteer
match M1-M11, triple extraction) is row-local, so it runs as ONE
Arrow-batched mapInArrow over the pages scan — a single narrow stage
with zero shuffles that scales linearly with executors.  The compiled
gazetteer rows are broadcast once; each executor builds the
Aho-Corasick automaton lazily on first use and keeps the latest one
per category (fixing the reference's per-sentence gazetteer re-read,
mecab_ner.py:146, and per-instance tagger load, mecab_parser.py:116).

Batch invariant: a batch in flight holds only flat lists of ints and
strings, one per output struct field.  A page's kernel records go into
them as the page is done and die with it; held to batch end they made
CPython's cyclic GC re-walk the worker's automaton and lexicon.

Task entry: a reused Python worker calls importlib.invalidate_caches()
before every task, and on CPython 3.11 each zipimporter cached in
sys.path_importer_cache then re-parses its whole archive directory
(pyspark.zip, py4j, the spark-core jar: ~27k entries, 16 importers in
a warm worker).  Both stages drop those importers first thing, so the
next task in the worker starts without that re-read.  They also arm
TCP_QUICKACK on the worker's TCP socket to the JVM before the first
input batch is pulled: the JVM writes that input without TCP_NODELAY,
so Nagle holds its last small segment until the worker ACKs the one
before, and a warm worker is in delayed-ACK (pingpong) mode, which
waits 40 ms to ACK.  Unarmed, every task sat ~41 ms in
pyarrow.ipc.open_stream before its first batch arrived.

Column pruning: only (url, warc_ts, text, lang) are read — the `html`
binary column never leaves the scan when the caller selects before
this stage (plans.pipeline does, for extract_graph and run_pipeline).
"""

from __future__ import annotations

import os
import socket
import stat
import sys
import zipimport
from functools import partial
from operator import attrgetter, itemgetter

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernel.lexicon import default_lexicon
from ..kernel.matcher import (CompiledGazetteer, find_mentions,
                              infer_extend, ner_spans)
from ..kernel.tokenizer import TokenColumns, tokenize
from ..kernel.triples import extract_triples
from .schemas import TOKENIZED_SCHEMA, annotated_schema

# per-executor automaton cache: search_category -> (broadcast id,
# CompiledGazetteer), for the latest broadcast only (~1.4 MB each)
_GAZ_CACHE: dict = {}


def _drop_zip_importers() -> None:
    """Delete every zipimporter from sys.path_importer_cache.  It is only
    a cache: a later import through the same path entry builds a new
    importer from zipimport's per-archive directory cache, without
    reading the archive again (archives do not change under a worker)."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)


def _quickack_tcp_sockets() -> int:
    """Arm TCP_QUICKACK on every TCP stream socket this process holds;
    returns how many fds it armed.  The option flushes an ACK the kernel
    is holding back and leaves delayed-ACK mode, so a peer whose next
    segment waits on that ACK (Nagle) sends it at once.  Pipes, files
    and AF_UNIX sockets are left alone; without /proc/self/fd or
    TCP_QUICKACK (not Linux) it does nothing."""
    quickack = getattr(socket, "TCP_QUICKACK", None)
    if quickack is None:
        return 0
    try:
        fds = [int(fd) for fd in os.listdir("/proc/self/fd")]
    except OSError:
        return 0
    armed = 0
    for fd in fds:
        try:  # the listing's own fd is closed by now: EBADF
            if not stat.S_ISSOCK(os.fstat(fd).st_mode):
                continue
            dup = os.dup(fd)
        except OSError:
            continue
        try:
            sock = socket.socket(fileno=dup)  # owns dup from here on
        except OSError:
            os.close(dup)
            continue
        with sock:
            if (sock.family in (socket.AF_INET, socket.AF_INET6)
                    and sock.type == socket.SOCK_STREAM):
                try:
                    sock.setsockopt(socket.IPPROTO_TCP, quickack, 1)
                    armed += 1
                except OSError:
                    pass
    return armed


def _enter_task() -> int:
    """Executor entry of both mapInArrow stages, run before their first
    input batch is pulled (the batch iterator is lazy): drop the cached
    zipimporters and arm TCP_QUICKACK (module docstring, Task entry).
    Returns the number of TCP socket fds armed."""
    _drop_zip_importers()
    return _quickack_tcp_sockets()


def _executor_gazetteer(rows_bc, bc_id, search_category) -> CompiledGazetteer:
    # bc_id is Spark's monotonically increasing broadcast id (resolved
    # driver-side in annotate_pages) — NOT id(rows_bc), which CPython
    # can reuse after GC and silently alias two different broadcasts
    key = tuple(search_category) if search_category else None
    if _GAZ_CACHE.get(key, (None,))[0] != bc_id:
        _GAZ_CACHE[key] = (bc_id, CompiledGazetteer(rows_bc.value, search_category))
    return _GAZ_CACHE[key][1]


def _list_array(list_type, children, offsets) -> pa.ListArray:
    """Dremel-style nested column: one child array per struct field,
    from that field's values over the batch, under int32 row offsets."""
    struct = list_type.value_type
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(v, f.type) for v, f in zip(children, struct)],
            fields=list(struct)), type=list_type)


def _field_readers(field):
    """Per struct field, page value -> that field's values: TokenColumns
    by column, Mention/NerSpan by attribute, triple tuples by position."""
    struct = field.type.value_type
    if field.name == "triples":
        return [partial(map, itemgetter(i)) for i in range(len(struct))]
    get = [attrgetter(f.name) for f in struct]
    return get if field.name == "tokens" else [partial(map, g) for g in get]


def _map_columnar(batches, arrow, doc):
    """Arrow page batches -> Arrow batches of `arrow`.  `doc(text)` gives
    a page's computed fields by name; input fields pass through, cast to
    the output type; a field neither one gives (warc_ts, lang) is null.
    Nested fields go into flat child lists as each page is done, so no
    per-record object outlives its page (the batch invariant, above)."""
    for batch in batches:
        nested = {f.name: (_field_readers(f),
                           [[] for _ in f.type.value_type], [0])
                  for f in arrow if pa.types.is_list(f.type)}
        flat = {f.name: [] for f in arrow
                if f.name not in nested and f.name not in batch.schema.names}
        for text in batch.column("text").to_pylist():
            rec = doc(text or "")
            for k, (readers, children, offsets) in nested.items():
                value = rec[k]
                offsets.append(offsets[-1] + len(value))
                for read, child in zip(readers, children):
                    child.extend(read(value))
            for k, col in flat.items():
                col.append(rec.get(k))
        yield pa.RecordBatch.from_arrays(
            [_list_array(f.type, *nested[f.name][1:]) if f.name in nested
             else pa.array(flat[f.name], f.type) if f.name in flat
             else batch.column(f.name).cast(f.type) for f in arrow],
            schema=arrow)


def _page_kernel(gaz, infer=True, with_triples=True, tokenizer=None):
    """annotate_pages' per-page call: text -> its computed fields."""
    lex = default_lexicon() if tokenizer is None else None

    def doc(text):
        toks = (TokenColumns.from_records(tokenizer(text)) if tokenizer
                else tokenize(text, lex))
        raw = find_mentions(toks, gaz)
        raw = infer_extend(raw, toks) if infer else raw
        spans = ner_spans(toks, raw)
        triples = extract_triples(toks, spans) if with_triples else ()
        return {"tokens": toks, "mentions": raw, "spans": spans,
                "triples": triples, "n_tokens": len(toks.word),
                "extracted_text": " ".join(toks.word)}
    return doc


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
    arrow = to_arrow_schema(schema)  # once, on the driver
    cols = [c for c in ("url", "warc_ts", "text", "lang") if c in pages_df.columns]
    bc_id = gazetteer_rows_bc._jbroadcast.id()  # stable unique cache key

    def process(batches):
        _enter_task()
        gaz = _executor_gazetteer(gazetteer_rows_bc, bc_id, search_category)
        return _map_columnar(batches, arrow, _page_kernel(
            gaz, infer, with_triples, tokenizer))

    return pages_df.select(*cols).mapInArrow(process, schema=schema)


def tokenize_pages(pages_df):
    """pages (url, text) -> (url, tokens) with the FULL token struct —
    the input of surface-restoring consumers (posseq_candidates needs
    reading/type/space for restore_tokens).  Tokenize-only: a strictly
    cheaper narrow stage than annotate_pages (no gazetteer, no match)."""
    arrow = to_arrow_schema(TOKENIZED_SCHEMA)

    def process(batches):
        _enter_task()
        lex = default_lexicon()
        return _map_columnar(batches, arrow,
                             lambda text: {"tokens": tokenize(text, lex)})

    return pages_df.select("url", "text").mapInArrow(process, TOKENIZED_SCHEMA)


def mentions_table(annotated_df):
    """Exploded mentions: (url, start, end, surface, large, small) —
    the FIXTURES.md §8 mentions table (token-index half-open spans)."""
    return (annotated_df
            .select("url", F.explode("mentions").alias("m"))
            .select("url", "m.start", "m.end", "m.surface", "m.large", "m.small"))


def tokens_table(annotated_df):
    """Exploded token context: (url, idx, word, pos, begin, end) — the
    input of the learned-statistics builds, the neighbor-evidence
    scoring, and the char-span BIO alignment (requires
    annotate_pages(..., with_tokens=True or "context")).  Downstream operators
    select subsets; column pruning drops the rest."""
    return (annotated_df
            .select("url", F.posexplode("tokens").alias("idx", "t"))
            .select("url", "idx", "t.word", "t.pos", "t.begin", "t.end"))


def spans_table(annotated_df):
    return (annotated_df
            .select("url", F.explode("spans").alias("s"))
            .select("url", "s.start", "s.end", "s.word", "s.large", "s.small"))


def triples_table(annotated_df):
    """Exploded triples: (url, subj, pred, obj, spans, conf)."""
    return (annotated_df
            .select("url", "warc_ts", F.explode("triples").alias("t"))
            .select("url", "warc_ts", "t.subj", "t.pred", "t.obj",
                    "t.subj_start", "t.subj_end", "t.obj_start", "t.obj_end",
                    "t.conf"))
