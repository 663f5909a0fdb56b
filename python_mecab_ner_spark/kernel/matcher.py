"""Gazetteer compilation + mention detection + span semantics.

Optimized re-expression of the reference's per-entry O(entries x
tokens) scan (reference mecab_ner.py:21-46,136-186): an Aho-Corasick
automaton over token-word sequences finds ALL candidate occurrences of
ALL dictionary entries in one pass, then a deterministic *replay*
applies the reference's result-affecting policies exactly:

- longest-entry-first priority within a small category (dictionary
  lines sorted by length at build; reference mecab_reader.py:178,188),
- greedy masking of accepted spans so nested/shorter entries of the
  same small category cannot re-match (reference mecab_ner.py:91-99),
- per-small-category isolation (the reference deep-copies the parsed
  sentence per small category; reference mecab_ner.py:152),
- dual-mode matching: token-sequence mode on the tokenized form and
  character mode (pattern chars vs token words, min 2 chars) on the
  original surface (reference mecab_ner.py:155-159),
- the short-entity POS gate (reference mecab_ner.py:161-165),
- left-extension inference incl. the token-0 quirk (mecab_ner.py:188-205),
- bitmap fill + run merge (mecab_ner.py:50-75,208-222),
- category re-attachment by run end (mecab_ner.py:224-258) and
  first-match-wins interleave (mecab_ner.py:260-291).

Entry iteration order is OS-dependent in the reference
(Path.iterdir + dict order); this engine fixes the deterministic total
order (large asc, small asc, surface length desc, surface asc) —
SURVEY.md §7.4 item 2.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass

from .tokenizer import TokenColumns, restore_range

MIN_MEANING = 2
ENTITY_POS_LIST = frozenset([
    "NNG", "NNP", "NNB", "NNBC", "NR", "NP", "XSN", "XR",
    "SL", "SH", "SN", "UNKNOWN"])
INFER_ENTITY_POS_LIST = frozenset(["NNG", "NNP"])


@dataclass(frozen=True)
class GazEntry:
    eid: int
    large: str
    small: str
    surface: str          # original dictionary surface (mention text)
    pattern: tuple        # tokenized words (token-mode pattern)
    token_gate_len: int   # len(' '.join(pattern)), precomputed


@dataclass(slots=True)
class Mention:
    start: int            # token index, inclusive
    end: int              # token index, exclusive (reference: "항상 1크다")
    surface: str
    large: str
    small: str


@dataclass(slots=True)
class NerSpan:
    start: int
    end: int              # exclusive
    word: str             # restored surface of the merged run
    large: str
    small: str


def _bits(start: int, end: int) -> int:
    """Token range [start, end) as an int bitmask."""
    return ((1 << (end - start)) - 1) << start


class AhoCorasick:
    """Sequence-alphabet Aho-Corasick (symbols are strings: token words,
    single characters or POS tags).  `keys[i]` labels patterns[i]
    (default: i); each node's outputs are precomputed at build as
    (key, pattern length), so find() is one pass with no per-hit
    lookups."""

    def __init__(self, patterns, keys=None):
        patterns = list(patterns)
        keys = range(len(patterns)) if keys is None else keys
        # trie as list of dicts; node 0 = root
        goto: list[dict] = [{}]
        out: list[list] = [[]]
        for key, pat in zip(keys, patterns):
            node = 0
            for sym in pat:
                nxt = goto[node].get(sym)
                if nxt is None:
                    goto.append({})
                    out.append([])
                    nxt = goto[node][sym] = len(goto) - 1
                node = nxt
            out[node].append((key, len(pat)))
        # BFS: failure links, inherited outputs, and the transitions
        # completed along the fail chain (a DFA) minus the root's, so a
        # step is delta[node].get(sym) or root.get(sym, 0)
        root = self.root = goto[0]
        fail = [0] * len(goto)
        delta: list[dict] = [{} for _ in goto]
        q = deque(root.values())
        while q:
            node = q.popleft()
            f = fail[node]
            delta[node] = {**delta[f], **goto[node]}
            for sym, child in goto[node].items():
                q.append(child)
                fail[child] = delta[f].get(sym) or root.get(sym, 0)
                out[child].extend(out[fail[child]])
        self.delta = delta
        self.out: list[tuple] = [tuple(o) for o in out]

    def find(self, seq) -> dict:
        """{key: [(start, end_exclusive), ...]} for every occurrence,
        each key's hits in end order."""
        delta, out, root = self.delta, self.out, self.root
        hits: dict = {}
        node = 0
        for i, sym in enumerate(seq, 1):
            if node:
                node = delta[node].get(sym) or root.get(sym, 0)
            else:
                node = root.get(sym, 0)
            if node:
                for key, n in out[node]:
                    span = (i - n, i)
                    got = hits.get(key)
                    if got is None:
                        hits[key] = [span]
                    else:
                        got.append(span)
        return hits


class CompiledGazetteer:
    """Driver-built, broadcast-able matcher state.

    rows: (large, small, surface, tokenized) — small WITHOUT '#'.
    search_category: optional large-category allowlist (reference
    mecab_ner.py:148-150); pruned before automaton build so the
    broadcast payload shrinks with the filter.
    """

    def __init__(self, rows, search_category=None):
        if search_category is not None:
            allow = set(search_category)
            rows = [r for r in rows if r[0] in allow]
        ordered = sorted(rows, key=lambda r: (r[0], r[1], -len(r[2]), r[2]))
        self.entries = [
            GazEntry(i, large, small, surface, tuple(tokenized.split()),
                     len(" ".join(tokenized.split())))
            for i, (large, small, surface, tokenized) in enumerate(ordered)]
        # one automaton for both modes over the token words: key 2*eid
        # is the token-mode pattern, 2*eid + 1 the char-mode one (its
        # chars match single-char tokens), so sorted keys replay in
        # canonical entry order, token mode first.  char-mode only for
        # surfaces of >=2 chars (min_meaning=2, reference mecab_ner.py:159)
        chars = [e for e in self.entries if len(e.surface) >= 2]
        self.ac = AhoCorasick(
            [e.pattern for e in self.entries] + [tuple(e.surface) for e in chars],
            [2 * e.eid for e in self.entries] + [2 * e.eid + 1 for e in chars])
        # per key: (category, short-entity POS gate applies, surface,
        # large, small); the gate is never short in char mode
        self.accept = [((e.large, e.small), short, e.surface, e.large, e.small)
                       for e in self.entries
                       for short in (e.token_gate_len < MIN_MEANING, False)]


def find_mentions(tokens, gaz: CompiledGazetteer):
    """All-entry candidate generation + ordered masking replay.

    Equivalent to the reference's nested per-entry scan because a
    masked position ('*'-overwritten word) can never participate in a
    later match, so validity of a candidate reduces to non-intersection
    with previously accepted spans of the same small category.
    """
    cols = TokenColumns.of(tokens)
    hits = gaz.ac.find(cols.word)
    poses = cols.pos
    mentions: list[Mention] = []
    masked = 0                 # token bitmask accepted for the current small cat
    cur_cat = None
    # only entries with at least one candidate matter: entries without
    # hits accept nothing, so they influence neither masking nor the
    # per-category reset
    for key in sorted(hits):
        cat, short, surface, large, small = gaz.accept[key]
        if cat != cur_cat:
            cur_cat = cat
            masked = 0
        accepted = 0
        for s, t in hits[key]:
            bits = _bits(s, t)
            if masked & bits:
                continue
            # short-entity POS gate (reference mecab_ner.py:161-165)
            if short and poses[t - 1] not in ENTITY_POS_LIST:
                continue
            accepted |= bits
            mentions.append(Mention(s, t, surface, large, small))
        masked |= accepted
    return mentions


def infer_extend(mentions, tokens):
    """Left-extension through preceding NNG/NNP tokens, replicating the
    reference's token-0 quirk: token 0 is only reachable when
    start_idx == 1 (reference mecab_ner.py:196-205)."""
    if not mentions:
        return mentions
    cols = TokenColumns.of(tokens)
    poses, mcomp = cols.pos, cols.mecab_compound
    for m in mentions:
        end_point = -1 if m.start == 1 else 0
        for i in range(m.start - 1, end_point, -1):
            if poses[i] in INFER_ENTITY_POS_LIST:
                m.start = mcomp[i]
                continue
            break
    return mentions


def merge_runs(mentions, n_tokens):
    """Bitmap fill + maximal-run merge -> [(start, end_inclusive)]
    (reference mecab_ner.py:50-75,208-222)."""
    mask = 0
    for m in mentions:
        mask |= _bits(m.start, m.end)
    runs = []
    base = 0
    while mask:
        zeros = (mask & -mask).bit_length() - 1
        mask >>= zeros
        base += zeros
        ones = (mask ^ (mask + 1)).bit_length() - 1
        runs.append((base, base + ones - 1))
        mask >>= ones
        base += ones
    return runs


def ner_spans(tokens, mentions):
    """Merged runs + category re-attachment: a run takes the category of
    every mention whose end matches the run end (reference
    START_IDX=False policy, mecab_ner.py:252-258)."""
    if not mentions:
        return []
    cols = TokenColumns.of(tokens)
    by_end: dict[int, list] = {}
    for m in mentions:
        by_end.setdefault(m.end, []).append(m)
    spans: list[NerSpan] = []
    for s, e in merge_runs(mentions, len(cols)):
        ends = by_end.get(e + 1)
        if ends:
            word = " ".join(restore_range(cols, s, e + 1))
            for m in ends:
                spans.append(NerSpan(s, e + 1, word, m.large, m.small))
    return spans


def interleave(tokens, spans):
    """First-match-wins token/NER interleave (reference
    mecab_ner.py:260-291).  Returns [(word, pos, large|None, small|None)]."""
    cols = TokenColumns.of(tokens)
    covered = 0
    first: dict[int, NerSpan] = {}
    for sp in spans:
        covered |= _bits(sp.start, sp.end)
        first.setdefault(sp.end, sp)
    out = []
    for idx, (w, p) in enumerate(zip(cols.word, cols.pos)):
        sp = first.get(idx + 1)
        if sp is not None:
            out.append((sp.word, "ner", sp.large, sp.small))
        if not covered >> idx & 1:
            out.append((w, p, None, None))
    return out


def ner_parse(tokens, gaz: CompiledGazetteer, infer=True):
    """Full per-sentence NER flow; returns (interleaved, spans)."""
    tokens = TokenColumns.of(tokens)
    mentions = find_mentions(tokens, gaz)
    if infer:
        mentions = infer_extend(mentions, tokens)
    spans = ner_spans(tokens, mentions)
    return interleave(tokens, spans), spans


def ners(tokens, gaz: CompiledGazetteer, infer=True):
    """(word, large, small) per detected entity, in sentence order."""
    parsed, _ = ner_parse(tokens, gaz, infer)
    return [(w, lg, sm) for w, pos, lg, sm in parsed if pos == "ner"]


def morphs(tokens, gaz: CompiledGazetteer, infer=True):
    parsed, _ = ner_parse(tokens, gaz, infer)
    return [w for w, *_ in parsed]
