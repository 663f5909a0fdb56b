"""Reference-compatible facade: the public classes a
python-mecab-ner user calls (reference mecab_parser.py:97-231,
mecab_ner.py:102-298), re-exposed over this engine's kernel for
single sentences and over Spark DataFrames for corpora.

A reference user migrates by changing the import; method names and
result shapes match:

    from python_mecab_ner_spark.api import MecabParser, MecabNer

    MecabParser("나는 서울대병원에 갔어").gen_mecab_compound_token_feature()
    ner = MecabNer()                       # bundled gazetteer
    ner = MecabNer(ner_path="path/to/ner_data")   # reference dir format
    ner.morphs(sentence); ner.ners(sentence); ner.parse(sentence)
    ner.parse_df(pages_df)                 # the distributed path

Differences from the reference (documented, deliberate):
- tokenization comes from the deterministic pinned lexicon
  (SURVEY.md §7.2), not a MeCab binary;
- gazetteer entry order is the fixed canonical total order
  (SURVEY.md §7.4.2), not OS directory order;
- `ner_path` accepts the reference's dir-of-txt micro-format and
  compiles it in-memory (no mecab_data side-effect files; the
  reference re-read and re-wrote them per construction,
  mecab_reader.py:221-241).
"""

from __future__ import annotations

from pathlib import Path

from .kernel.lexicon import default_lexicon, load_gazetteer_rows
from .kernel.matcher import CompiledGazetteer, ner_parse
from .kernel.tokenizer import restore_surface, tokenize


class MecabParser:
    """Single-sentence tokenizer facade (reference
    mecab_parser.py:97-231)."""

    def __init__(self, sentence: str):
        self.sentence = sentence
        self._tokens = None

    def _toks(self):
        if self._tokens is None:
            self._tokens = tokenize(self.sentence, default_lexicon())
        return self._tokens

    def gen_mecab_compound_token_feature(self):
        """Expanded token records (reference mecab_parser.py:208-217);
        a list here (the reference's generator is always list()ed by
        callers, e.g. mecab_ner.py:268)."""
        return list(self._toks())

    def get_word_from_mecab_compound(self, is_list: bool = False):
        """Space-joined expanded words — the byte-identity anchor
        (reference mecab_parser.py:219-231)."""
        ws = list(self._toks().word)
        return ws if is_list else " ".join(ws)

    def restore(self) -> str:
        """Round-trip surface restore (reference
        mecab_storage.py:54-88)."""
        return restore_surface(self._toks())


def _rows_from_ner_path(ner_path: str):
    """Reference dir-of-txt micro-format -> compiled gazetteer rows
    (filename stem = large, '#header' = small, default header = stem;
    reference mecab_reader.py:190-219)."""
    from .kernel.tokenizer import extracted_text
    rows = []
    for f in sorted(Path(ner_path).glob("*.txt")):
        large = f.stem
        small = large
        for raw in f.read_text(encoding="utf-8-sig").splitlines():
            line = raw.strip()
            if not line:
                continue
            if "#" in line:
                # reference read_category treats '#' ANYWHERE in the
                # line as a small-category header (`SMALL_CAT_DIVIDER
                # in word`, mecab_reader.py:177); the header value has
                # every '#' removed (mecab_ner.py:249,253 semantics)
                small = line.replace("#", "").strip()
                continue
            surface = line.split(",")[0]
            rows.append((large, small, surface, extracted_text(surface)))
    return rows


class MecabNer:
    """NER facade (reference mecab_ner.py:102-298)."""

    def __init__(self, ner_path: str | None = None,
                 search_category: list | None = None, infer: bool = True):
        rows = (_rows_from_ner_path(ner_path) if ner_path
                else load_gazetteer_rows())
        self.gaz = CompiledGazetteer(rows, search_category)
        self.infer = infer
        self._rows = rows

    def parse(self, sentence: str):
        """Interleaved (word, feature) walk (reference
        mecab_ner.py:260-291): plain tokens as (word, pos), entities
        as (surface, 'ner', large, small)."""
        toks = tokenize(sentence, default_lexicon())
        parsed, _ = ner_parse(toks, self.gaz, self.infer)
        return parsed

    def morphs(self, sentence: str):
        """reference mecab_ner.py:293-294"""
        return [w for w, *_ in self.parse(sentence)]

    def ners(self, sentence: str):
        """reference mecab_ner.py:296-298: [(surface, large, small)]"""
        return [(w, lg, sm) for w, pos, lg, sm in self.parse(sentence)
                if pos == "ner"]

    # ---- distributed API (the engine's native path) -------------------

    def parse_df(self, pages_df, search_category=None):
        """pages DataFrame -> annotated DataFrame (operators.annotate);
        the corpus-scale equivalent of parse()."""
        from .operators.annotate import annotate_pages
        spark = pages_df.sparkSession
        bc = spark.sparkContext.broadcast(self._rows)
        return annotate_pages(pages_df, bc,
                              search_category=search_category,
                              infer=self.infer)
