"""Deterministic lexicon-driven tokenizer + surface restore.

Replaces the reference's MeCab lattice parse (reference
mecab_parser.py:137-217) with a longest-match segmenter over the pinned
lexicon (kernel.lexicon).  Emits the same per-token record the
reference builds: word/pos/reading/type plus the three positional
indexes (`space` whitespace-token index, `mecab_token` pre-expansion
index, `mecab_compound` post-expansion index; reference
mecab_domain.py:61-77) and char offsets.

Layout: one document's tokens are a TokenColumns, one list per field
(struct of arrays), not one dict per token.  `word`, `pos`, `reading`,
`type` and `space` are filled eagerly by extending with per-eojeol
column tuples, memoized per distinct eojeol (web eojeol vocabulary is
heavy-tailed).  The rest are computed on first access: `has_jongseong`
and `begin`/`end`/`mecab_token` from the per-eojeol entries and the
text, `mecab_compound` is the token index and `label` is always "O".
TokenColumns still reads as a sequence of the reference's token dicts.

This module is pure Python with no Spark imports: it runs inside the
Arrow-batched mapInArrow on executors AND in the single-process pyref
oracle, one source of truth for the byte-identity invariant (extracted
text per url).
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import chain
from operator import itemgetter

from .jamo import has_jongseong, is_syllable
from .lexicon import Lexicon, default_lexicon

# Token record field order (kept in sync with operators.schemas.TOKEN_SCHEMA)
TOKEN_FIELDS = (
    "word", "pos", "has_jongseong", "reading", "type",
    "space", "mecab_token", "mecab_compound", "begin", "end", "label",
)
_EAGER = ("word", "pos", "reading", "type", "space")


class TokenColumns(Sequence):
    """One document's tokens, one list per TOKEN_FIELDS field.

    Indexing and iteration build the reference's token dict on access,
    and a TokenColumns compares equal to the list of those dicts.  The
    kernel's hot path reads the columns (`word`, `pos`, ...) directly.
    """

    __slots__ = _EAGER + ("_text", "_entries", "_lazy")

    def __init__(self, word, pos, reading, type, space, text="",
                 entries=(), lazy=None):
        self.word, self.pos, self.reading = word, pos, reading
        self.type, self.space = type, space
        self._text, self._entries = text, entries
        self._lazy = {} if lazy is None else lazy

    @classmethod
    def from_records(cls, records) -> TokenColumns:
        """[token dict] (TOKEN_FIELDS keys) -> columns, every field
        taken from the records as given."""
        cols = {f: [r[f] for r in records] for f in TOKEN_FIELDS}
        return cls(*(cols.pop(f) for f in _EAGER), lazy=cols)

    @classmethod
    def of(cls, tokens) -> TokenColumns:
        return tokens if isinstance(tokens, cls) else cls.from_records(tokens)

    def _field(self, name):
        col = self._lazy.get(name)
        if col is None:
            if name == "has_jongseong":
                col = list(chain.from_iterable(e[4] for e in self._entries))
            elif name == "mecab_compound":
                col = range(len(self.word))
            elif name == "label":
                col = ["O"] * len(self.word)
            else:
                self._positions()
                col = self._lazy[name]
            self._lazy[name] = col
        return col

    def _positions(self):
        """begin/end from each eojeol's char offset in the text plus the
        entry's relative spans; mecab_token from the group counts."""
        begin, end, mtok = [], [], []
        at = base = 0
        for ej, e in zip(self._text.split(), self._entries):
            eb = self._text.index(ej, at)
            at = eb + len(ej)
            for rb, re_, g in e[5]:
                begin.append(eb + rb)
                end.append(eb + re_)
                mtok.append(base + g)
            base += e[6]
        self._lazy.update(begin=begin, end=end, mecab_token=mtok)

    has_jongseong = property(lambda self: self._field("has_jongseong"))
    mecab_token = property(lambda self: self._field("mecab_token"))
    mecab_compound = property(lambda self: self._field("mecab_compound"))
    begin = property(lambda self: self._field("begin"))
    end = property(lambda self: self._field("end"))
    label = property(lambda self: self._field("label"))

    def __len__(self):
        return len(self.word)

    def __iter__(self):
        cols = [getattr(self, f) for f in TOKEN_FIELDS]
        return (dict(zip(TOKEN_FIELDS, vals)) for vals in zip(*cols))

    def __getitem__(self, i):
        if isinstance(i, slice):
            return [self[j] for j in range(*i.indices(len(self)))]
        return {f: getattr(self, f)[i] for f in TOKEN_FIELDS}

    def __eq__(self, other):
        if not isinstance(other, Sequence) or isinstance(other, str):
            return NotImplemented
        return len(self) == len(other) and all(
            a == b for a, b in zip(self, other))

    def __repr__(self):
        return f"TokenColumns({list(self)!r})"


def _fallback_group(ej: str, i: int):
    """Segment one unknown position: latin runs (SL, lowercased), digit
    runs (SN), single Hangul syllables (UNKNOWN), anything else (SY)."""
    ch = ej[i]
    if ch.isascii() and ch.isalpha():
        j = i
        while j < len(ej) and ej[j].isascii() and ej[j].isalpha():
            j += 1
        return (None, ej[i:j], ((ej[i:j].lower(), "SL"),)), j - i
    if ch.isdigit():
        j = i
        while j < len(ej) and ej[j].isdigit():
            j += 1
        return (None, ej[i:j], ((ej[i:j], "SN"),)), j - i
    pos = "UNKNOWN" if is_syllable(ch) else "SY"
    return (None, ch, ((ch, pos),)), 1


def _segment_eojeol(ej: str, lex: Lexicon):
    """Eojeol -> tuple of groups.  Pinned whole-eojeol entries win;
    otherwise greedy longest-prefix over the chunk table with run-based
    fallback.  Deterministic by construction (no dict-order effects)."""
    entry = lex.eojeols.get(ej)
    if entry is not None:
        return entry
    low = ej.lower()
    entry = lex.eojeols.get(low)
    if entry is not None:
        return entry

    groups = []
    i, n = 0, len(low)
    while i < n:
        hit = None
        top = min(lex.max_chunk_len, n - i)
        for length in range(top, 0, -1):
            cand = lex.chunks.get(low[i:i + length])
            if cand is not None:
                hit = cand
                i += length
                break
        if hit is not None:
            groups.extend(hit)
            continue
        grp, consumed = _fallback_group(ej, i)
        groups.append(grp)
        i += consumed
    return tuple(groups)


def _columns(groups, phrase_head=False):
    """One eojeol's groups -> its column entry: the (word, pos, reading,
    type, has_jongseong) tuples of its expanded tokens, each token's
    (rel_begin, rel_end, group index) inside the eojeol, the group
    count, and whether the eojeol can start a phrase pin."""
    word, pos, reading, gtypes, layout = [], [], [], [], []
    at = 0
    for g, (gtype, rd, words_pos) in enumerate(groups):
        if rd is None:
            rd = "".join(w for w, _ in words_pos)
        g_begin, b = at, at
        at += len(rd)
        for w, p in words_pos:
            word.append(w)
            pos.append(p)
            reading.append(rd)
            gtypes.append(gtype)
            if gtype == "Inflect":
                # sub-tokens share the whole group span (reference
                # mecab_parser.py:182-190)
                layout.append((g_begin, at, g))
            else:
                layout.append((b, b + len(w), g))
                b += len(w)
    return (tuple(word), tuple(pos), tuple(reading), tuple(gtypes),
            tuple(map(has_jongseong, word)), tuple(layout), len(groups),
            phrase_head)


def _eojeol_columns(ej: str, lex: Lexicon):
    """Memoized per-eojeol column entry: web-corpus eojeol vocabulary is
    heavy-tailed, so a repeat eojeol costs one dict hit.  Bounded
    (cleared at 200k entries) so a pathological corpus cannot grow
    worker memory unboundedly."""
    cache = getattr(lex, "_col_cache", None)
    if cache is None:
        cache = lex._col_cache = {}
    entry = cache.get(ej)
    if entry is None:
        entry = _columns(_segment_eojeol(ej, lex), ej.lower() in lex.phrases)
        if len(cache) >= 200_000:
            cache.clear()
        cache[ej] = entry
    return entry


def _match_phrase(ejs, i, lex: Lexicon):
    """Multi-eojeol phrase pin at eojeol index i -> one column entry per
    eojeol it covers, or None.  The final eojeol may carry a particle
    suffix, segmented separately and appended to that eojeol's groups."""
    for ptuple, entries in lex.phrases.get(ejs[i].lower(), []):
        k = len(ptuple)
        if i + k > len(ejs):
            continue
        if any(ejs[i + j].lower() != ptuple[j] for j in range(k - 1)):
            continue
        last = ejs[i + k - 1].lower()
        if not last.startswith(ptuple[-1]):
            continue
        groups = list(entries)
        groups[-1] += _segment_eojeol(last[len(ptuple[-1]):], lex)
        return [_columns(g) for g in groups]
    return None


def _pin_phrases(ejs, entries, lex: Lexicon):
    """Replace the plain entries of every phrase-pinned eojeol run."""
    out = []
    i = 0
    while i < len(ejs):
        hit = entries[i][7] and _match_phrase(ejs, i, lex)
        out += hit or (entries[i],)
        i += len(hit) if hit else 1
    return out


_PHRASE_HEAD = itemgetter(7)


def tokenize(text: str, lex: Lexicon | None = None) -> TokenColumns:
    """Sentence -> expanded token columns (the reference's
    gen_mecab_compound_token_feature output, mecab_parser.py:208-217)."""
    lex = lex or default_lexicon()
    get = getattr(lex, "_col_cache", {}).get
    ejs = text.split()
    entries = [get(ej) or _eojeol_columns(ej, lex) for ej in ejs]
    if any(map(_PHRASE_HEAD, entries)):
        entries = _pin_phrases(ejs, entries, lex)
    word, pos, reading, gtype, space = [], [], [], [], []
    for i, e in enumerate(entries):
        w = e[0]
        word += w
        pos += e[1]
        reading += e[2]
        gtype += e[3]
        space += [i] * len(w)
    return TokenColumns(word, pos, reading, gtype, space, text, entries)


def extracted_text(text: str, lex: Lexicon | None = None) -> str:
    """The byte-identity anchor: space-joined expanded words (reference
    get_word_from_mecab_compound, mecab_parser.py:219-231)."""
    return " ".join(tokenize(text, lex).word)


_INFLECT_WORD_POS = ("NNG", "NNP", "XSN", "UNA")


def restore_tokens(tokens) -> list[str]:
    """Token sequence -> original eojeol surfaces, one string per
    distinct `space` index in ascending order (reference
    mecab_storage.py:54-88).  Inflect groups with non-nominal POS emit
    their `reading` once (consecutive same reading+space deduped)."""
    return restore_range(TokenColumns.of(tokens), 0, len(tokens))


def restore_range(cols: TokenColumns, start: int, stop: int) -> list[str]:
    """restore_tokens over the token slice [start, stop) of `cols`."""
    word, pos, reading, gtype, space = (
        cols.word, cols.pos, cols.reading, cols.type, cols.space)
    data: dict[int, str] = {}
    tmp_word = None
    tmp_space = None
    for i in range(start, stop):
        sp = space[i]
        if gtype[i] is None:
            rv = word[i]
            tmp_word = None
        elif tmp_word == reading[i] and tmp_space == sp:
            continue
        else:
            if gtype[i] == "Inflect" and pos[i] not in _INFLECT_WORD_POS:
                rv = reading[i]
            else:
                rv = word[i]
            tmp_word = rv
            tmp_space = sp
        data[sp] = data[sp] + rv if sp in data else rv
    return [data[k] for k in sorted(data)]


def restore_surface(tokens) -> str:
    return " ".join(restore_tokens(tokens))
