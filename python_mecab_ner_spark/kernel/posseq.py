"""POS-sequence span scan (reference L7: get_pos_seq_category +
contains(), mecab_category_storage.py:172-182,431-441).

The reference learns which POS sequences ("NNG+NNG", "NNP+XSN", ...)
carry entities, then scans sentences for token runs matching any
learned sequence — that is how it proposes candidate spans for
surfaces NO dictionary contains (the recall path the gazetteer
matcher cannot provide).  The reference scans naively per key, longest
keys first, masking accepted spans with CK (mecab_category_storage.py
:525-528); this kernel compiles ALL sequences into one Aho-Corasick
automaton over the POS-tag alphabet (single pass) and replays the
same longest-first non-overlap policy deterministically.
"""

from __future__ import annotations

from .matcher import AhoCorasick


class PosSeqScanner:
    """patterns: iterable of POS-tag tuples, e.g. ("NNG", "NNG").
    Deterministic priority: longer pattern first, then lexicographic
    (the reference sorts keys by length desc; dict order made total)."""

    def __init__(self, patterns):
        uniq = sorted({tuple(p) for p in patterns},
                      key=lambda p: (-len(p), p))
        self.patterns = uniq
        self.ac = AhoCorasick(uniq)

    def scan(self, pos_tags):
        """pos_tags: list of POS strings -> [(start, end_exclusive,
        pos_seq_string)] non-overlapping, longest-first priority."""
        hits = [(e - s, pid, s, e)
                for pid, spans in self.ac.find(pos_tags).items()
                for s, e in spans]
        # longest pattern first, then pattern priority, then position
        hits.sort(key=lambda h: (-h[0], h[1], h[2]))
        taken = [False] * len(pos_tags)
        out = []
        for _, pid, s, e in hits:
            if any(taken[i] for i in range(s, e)):
                continue
            for i in range(s, e):
                taken[i] = True
            out.append((s, e, "+".join(self.patterns[pid])))
        out.sort(key=lambda x: x[0])
        return out
