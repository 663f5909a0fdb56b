"""Windowed (subj, pred, obj) triple extraction over token arrays.

Generalizes the reference's nearest-pairing of entities to intents by
token distance (get_matched, reference
service/mecab_category_storage.py:598-616) into a deterministic
sentence-window extractor:

- candidate subjects/objects are the NER spans (kernel.matcher);
- consecutive span pairs within one sentence segment (no ./!/? token
  between them) form (subj, obj);
- the predicate is the first verb-stem token (POS starting VV/VA/XSV)
  at or after the object span, falling back to the gap between the two
  spans; its surface is extended left through contiguous same-eojeol
  noun tokens so light-verb constructions keep their content stem
  (방문 + 하 -> 방문하);
- confidence decays with the subject-object token gap.

Pure Python; reads the token columns (kernel.tokenizer.TokenColumns);
executed inside annotate's mapInArrow and by the pyref oracle.
"""

from __future__ import annotations

from itertools import accumulate
from operator import attrgetter

from .tokenizer import TokenColumns

PRED_POS_PREFIXES = ("VV", "VA", "XSV")
SEGMENT_BREAKERS = frozenset([".", "!", "?"])


def _pred_surface(cols: TokenColumns, pred_idx: int) -> str:
    """Verb-stem word, extended left through contiguous noun tokens of
    the same eojeol (light-verb stems: 방문+하 -> 방문하)."""
    word, pos, space = cols.word, cols.pos, cols.space
    sp = space[pred_idx]
    i = pred_idx
    while i > 0 and space[i - 1] == sp and pos[i - 1].startswith("N"):
        i -= 1
    return "".join(word[i:pred_idx + 1])


def _segment_id(word):
    """Token index -> sentence segment ordinal (splits at ./!/?): the
    number of breakers before the token."""
    return list(accumulate(map(SEGMENT_BREAKERS.__contains__, word), initial=0))


def extract_triples(tokens, spans):
    """spans: kernel.matcher.NerSpan list (position order not assumed).

    Returns [(subj, pred, obj, subj_start, subj_end, obj_start, obj_end,
    conf)] with token-index half-open spans.
    """
    if len(spans) < 2:
        return []
    cols = TokenColumns.of(tokens)
    pos = cols.pos
    seg = _segment_id(cols.word)
    # one span per distinct start (first category wins, matching the
    # reference's first-match-wins interleave), position order
    seen = set()
    ordered = []
    for sp in sorted(spans, key=attrgetter("start", "end")):
        if sp.start in seen:
            continue
        seen.add(sp.start)
        ordered.append(sp)

    triples = []
    for m1, m2 in zip(ordered, ordered[1:]):
        if seg[m1.start] != seg[m2.start]:
            continue
        pred_idx = None
        for i in range(m2.end, len(pos)):
            if seg[i] != seg[m2.start]:
                break
            if pos[i].startswith(PRED_POS_PREFIXES):
                pred_idx = i
                break
        if pred_idx is None:
            for i in range(m1.end, m2.start):
                if pos[i].startswith(PRED_POS_PREFIXES):
                    pred_idx = i
                    break
        if pred_idx is None:
            continue
        gap = m2.start - m1.end
        triples.append((m1.word, _pred_surface(cols, pred_idx), m2.word,
                        m1.start, m1.end, m2.start, m2.end,
                        round(1.0 / (1.0 + gap), 6)))
    return triples
