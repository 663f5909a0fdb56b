"""Single-process reference-semantics oracle ("pyref").

A deliberately *naive* re-implementation of the reference's matching
flow (per-entry nested-loop scan with in-place word masking, reference
mecab_ner.py:136-186) kept independent from kernel.matcher's optimized
Aho-Corasick replay.  The P/R harness runs both over the same corpus;
agreement validates that the optimized engine preserves the reference
semantics (BASELINE.md: triple P/R >= 0.95).

Shares only the tokenizer (tokenization is pinned by goldens; matching
is what this oracle cross-checks).
"""

from __future__ import annotations

from .matcher import (ENTITY_POS_LIST, INFER_ENTITY_POS_LIST, MIN_MEANING,
                      Mention)
from .tokenizer import TokenColumns, restore_range, tokenize


def _scan(pattern_syms, sent_words):
    """The reference's find_patterns_idx (mecab_ner.py:21-46): all
    occurrences of the symbol list in the word list."""
    hits = []
    n, m = len(sent_words), len(pattern_syms)
    for i in range(n - m + 1):
        for j in range(m):
            if sent_words[i + j] != pattern_syms[j]:
                break
        else:
            hits.append((i, i + m))
    return hits


def pyref_mentions(tokens, rows, search_category=None):
    """rows: (large, small, surface, tokenized), canonical order applied
    here identically to CompiledGazetteer so the two engines see the
    same entry sequence."""
    if search_category is not None:
        allow = set(search_category)
        rows = [r for r in rows if r[0] in allow]
    ordered = sorted(rows, key=lambda r: (r[0], r[1], -len(r[2]), r[2]))

    cols = TokenColumns.of(tokens)
    mentions = []
    cur_cat = None
    sent_words = None
    poses = cols.pos
    for large, small, surface, tokenized in ordered:
        if (large, small) != cur_cat:
            cur_cat = (large, small)
            sent_words = list(cols.word)  # fresh copy per small cat
        for pattern_str, syms, min_meaning in (
                (tokenized, tokenized.split(), 0),
                (surface, list(surface), 2)):
            if len(pattern_str) < min_meaning:
                continue
            for s, t in _scan(syms, sent_words):
                if len(pattern_str) < MIN_MEANING and poses[t - 1] not in ENTITY_POS_LIST:
                    continue
                for i in range(s, t):
                    sent_words[i] = "*"
                mentions.append(Mention(s, t, surface, large, small))
    return mentions


def pyref_spans(text, rows, search_category=None, infer=True):
    """text -> [(start, end, word, large, small)] NER spans exactly
    following the reference parse flow (mecab_ner.py:224-298), naive
    throughout."""
    tokens = tokenize(text)
    mentions = pyref_mentions(tokens, rows, search_category)

    if infer:
        for m in mentions:
            end_point = -1 if m.start == 1 else 0
            for i in range(m.start - 1, end_point, -1):
                if tokens.pos[i] in INFER_ENTITY_POS_LIST:
                    m.start = tokens.mecab_compound[i]
                    continue
                break

    blank = [0] * len(tokens)
    for m in mentions:
        for i in range(m.start, m.end):
            blank[i] = 1

    # run merge, naive walk (reference gen_integrated_entity)
    spans = []
    s = None
    for i, v in enumerate(blank):
        if v:
            if s is None:
                s = i
            if i != len(blank) - 1:
                continue
            spans.append((s, i))
            s = None
        elif s is not None:
            spans.append((s, i - 1))
            s = None

    out = []
    for s, e in spans:
        end_idx = e + 1
        word = " ".join(restore_range(tokens, s, end_idx))
        for m in mentions:
            if m.end == end_idx:
                out.append((s, end_idx, word, m.large, m.small))
                break  # first-match-wins (reference DUPLICATE=False)
    out.sort(key=lambda x: x[0])
    return out


def pyref_ners(text, rows, search_category=None, infer=True):
    """Projection of pyref_spans: [(word, large, small)]."""
    return [(w, lg, sm) for _, _, w, lg, sm
            in pyref_spans(text, rows, search_category, infer)]


def pyref_triples(text, rows, search_category=None, infer=True):
    """Gold (subj, pred, obj, spans, conf) triples: the naive span flow
    above fed to the shared windowed extractor (kernel.triples) — the
    P/R gold for the distributed pipeline (operators.metrics)."""
    from types import SimpleNamespace

    from .triples import extract_triples

    spans = [SimpleNamespace(start=s, end=e, word=w)
             for s, e, w, _lg, _sm
             in pyref_spans(text, rows, search_category, infer)]
    return extract_triples(tokenize(text), spans)
