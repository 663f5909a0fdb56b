"""Deterministic Common-Crawl-style pages corpus (test/bench fixture).

Synthesizes the input table mandated by BASELINE.json input_hint —
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
— from sentence templates instantiated ONLY with pinned-vocabulary
gazetteer surfaces (SURVEY.md §7.2), so tokenizer output is
byte-identical on every row by construction.

Deterministic: row i depends only on (seed, i); generation can be
distributed (mapInPandas over an id range) or driver-side for tests.

Skew knob: a head set of country surfaces appears in >=30% of Korean
docs (FIXTURES.md §6), creating the head-entity skew the salted graph
write defuses.
"""

from __future__ import annotations

import datetime as _dt
import random

from ..kernel.jamo import has_jongseong
from ..kernel.lexicon import _align_entry, default_lexicon, load_gazetteer_rows

EPOCH = _dt.datetime(2026, 1, 1)

# ASCII filler for lang='en' passthrough rows; deliberately avoids every
# latin gazetteer surface (orangestar, strawberry, moon, ...)
_EN_WORDS = ("the quick brown fox jumps over a lazy dog while data engines "
             "shuffle columns across wide tables and narrow stages").split()

_HEAD_COUNTRIES = ["미국", "중국", "일본", "영국", "프랑스"]


def _josa(word: str, with_final: str, without_final: str) -> str:
    return with_final if has_jongseong(word) else without_final


class CorpusSpec:
    """Slot pools derived from the aligned gazetteer surfaces."""

    def __init__(self, rows=None):
        rows = rows if rows is not None else load_gazetteer_rows()
        pools: dict[str, list[str]] = {}
        for large, _small, surface, tokenized in rows:
            if _align_entry(surface, tokenized.split()) is None:
                continue
            pools.setdefault(large, []).append(surface)
        self.singers = pools.get("ner_example_music_singer", [])
        self.songs = pools.get("ner_example_music_song", [])
        self.fruits = pools.get("ner_example_fruit", [])
        self.tours = pools.get("ner_example_location_tour", [])
        self.countries = pools.get("ner_example_location_country", [])
        self.foods = pools.get("ner_example_fastfood", [])
        self.heads = [c for c in _HEAD_COUNTRIES if c in self.countries] \
            or self.countries[:5]
        # NNP lexicon chunks that are NOT gazetteer surfaces: prefixing
        # one to a tour alias inside one eojeol (e.g. 신촌경복궁) makes
        # the matcher's left-extension produce a span surface that is
        # not any alias — the compound-variant case the linking
        # ladder's NEIGHBOR level (jamo-suffix + evidence) resolves
        surfaces = {s for pool in pools.values() for s in pool}
        chunks = default_lexicon().chunks
        self.nnp_prefixes = sorted(
            k for k, grps in chunks.items()
            if len(k) >= 2 and k not in surfaces and len(grps) == 1
            and len(grps[0][2]) == 1 and grps[0][2][0][1] == "NNP")[:20] \
            or ["신촌"]
        # zero-evidence novel compound (the linking ladder's UNLINKED
        # rung): TWO non-alias NNP chunks fused with an alias that is
        # nested-ambiguous everywhere in the corpus ('네팔' country
        # contains '팔' body at the same extended span, so the span
        # trains NO statistics), emitted as a whole single-eojeol doc.
        # The resulting span surface ('의창네팔') matches no alias,
        # levels 0-2 fail; no context outside the eojeol -> level 3 has
        # no neighbor evidence; none of the window tokens is ever a
        # TRAINING-mention last token -> level 4 brute finds nothing ->
        # entity_id NULL at level 5.
        self.novel_ambiguous = "네팔" if "네팔" in self.countries else None
        if self.novel_ambiguous:
            # starve the evidence: drop from the template pools any
            # alias sharing a token with the novel compound's alias
            # ('팔공산' segments with a bare 팔 token, and the nested
            # '팔' body mention there is UNambiguous -> it would train
            # a core count that lets the brute level link the novel
            # span at level 4 instead of leaving it unlinked)
            novel_toks = {t for _l, _s, s, tok in rows
                          if s == self.novel_ambiguous
                          for t in tok.split()}
            by_surface = {s: set(tok.split())
                          for _l, _s, s, tok in rows}
            for attr in ("singers", "songs", "fruits", "tours",
                         "countries", "foods"):
                pool = getattr(self, attr)
                setattr(self, attr,
                        [s for s in pool
                         if s == self.novel_ambiguous
                         or not (by_surface.get(s, set()) & novel_toks)])
            self.heads = [c for c in self.heads if c in self.countries]


def _sentence(rng: random.Random, spec: CorpusSpec) -> str:
    kind = rng.randrange(7)
    if kind == 6:
        # compound surface variant: NNP prefix fused into the tour
        # alias eojeol -> span "신촌경복궁" (no alias equals it); the
        # familiar context (…에 갔어) carries the neighbor evidence
        # linking level 3 needs
        prefix = rng.choice(spec.nnp_prefixes)
        tour = rng.choice(spec.tours)
        return f"{prefix}{tour}에 갔어"
    if kind == 0:
        singer, song = rng.choice(spec.singers), rng.choice(spec.songs)
        tour, fruit = rng.choice(spec.tours), rng.choice(spec.fruits)
        return (f"{singer}의 {song}{_josa(song, '을', '를')} 들으면서 "
                f"{tour} {fruit}{_josa(fruit, '을', '를')} 먹을래")
    if kind == 1:
        return f"나는 {rng.choice(spec.tours)}에 갔어"
    if kind == 2:
        # head-entity skew: ~60% of this template (template itself is
        # 1/6 of docs x multi-sentence) draws subj from the head set
        pool = spec.heads if rng.random() < 0.6 else spec.countries
        subj = rng.choice(pool)
        obj = rng.choice(spec.tours)
        return f"{subj}{_josa(subj, '은', '는')} {obj}에 있다"
    if kind == 3:
        singer, tour = rng.choice(spec.singers), rng.choice(spec.tours)
        return f"{singer}{_josa(singer, '이', '가')} {tour}{_josa(tour, '을', '를')} 방문했다"
    if kind == 4:
        singer, song = rng.choice(spec.singers), rng.choice(spec.songs)
        return f"{singer}{_josa(singer, '은', '는')} {song}{_josa(song, '을', '를')} 노래했다"
    fruit, food = rng.choice(spec.fruits), rng.choice(spec.foods)
    return f"{fruit}{_josa(fruit, '은', '는')} {food}보다 좋다"


def gen_page(doc_id: int, seed: int = 42, spec: CorpusSpec | None = None,
             skew: tuple[str, float] | None = None) -> dict:
    """Deterministic page row for a given (seed, doc_id).

    ``skew=(surface, frac)`` appends a sentence mentioning `surface`
    to ~frac of Korean docs via a SEPARATE rng stream — the
    head-entity-skew stressor for the link benchmark (text bytes with
    skew=None are byte-identical to before the knob existed)."""
    spec = spec or _default_spec()
    rng = random.Random((seed << 32) ^ doc_id)
    r = rng.random()
    if r < 0.05:
        lang = "en"
        n = rng.randint(8, 30)
        text = " ".join(rng.choice(_EN_WORDS) for _ in range(n))
    elif r < 0.08 and spec.novel_ambiguous and len(spec.nnp_prefixes) >= 2:
        # ~3% novel-vocabulary docs: a single fused eojeol with zero
        # statistical evidence anywhere in the corpus — the spans that
        # land on the linking ladder's UNLINKED rung (level 5).  A
        # whole doc (not a mid-doc sentence) so no adjacent-sentence
        # token can leak core-stat evidence into the brute window.
        lang = "ko"
        p1, p2 = rng.sample(spec.nnp_prefixes[:2], 2)
        text = f"{p1}{p2}{spec.novel_ambiguous}"
    else:
        lang = "ko"
        n = rng.randint(1, 5)
        text = ". ".join(_sentence(rng, spec) for _ in range(n))
    if skew is not None and lang == "ko":
        srng = random.Random((seed << 35) ^ doc_id)
        if srng.random() < skew[1]:
            text = f"{text}. 나는 {skew[0]}에 갔어"
    # page hosts drawn Zipf(1/rank) from the same pool the outlinks
    # target (SEPARATE rng stream — text bytes untouched): the host
    # graph has a real src side with the heavy-tailed host-size skew
    # real crawls show (head host ~17% of pages at 200 hosts)
    host = _zipf_host(random.Random((seed << 34) ^ doc_id))
    url = f"https://{host}/{lang}/{doc_id:08d}"
    return {
        "url": url,
        "warc_ts": EPOCH + _dt.timedelta(minutes=doc_id),
        "html": (f"<html><body><p>{text}</p>"
                 f"{_anchors(doc_id, seed, lang, spec)}</body></html>"
                 ).encode("utf-8"),
        "text": text,
        "lang": lang,
    }


# host pool for page urls and embedded outlinks.  ~200 hosts drawn
# Zipf(1/rank) — a non-trivial web graph for the real-KG host-level
# operators (rank/cocitation/butterflies) instead of the round-3
# 5-node toy; the named head hosts keep their historical spellings.
# Deterministic construction (no rng): goldens re-pin via pyref.
_HEAD_HOSTS = ("example.org", "news.example.net", "blog.example.net",
               "cdn.example-media.com", "portal.example.co.kr")
_TLDS = ("com", "net", "org", "io", "co.kr", "dev")
LINK_HOSTS = _HEAD_HOSTS + tuple(
    f"site{i:03d}.example-{_TLDS[i % len(_TLDS)]}"
    for i in range(200 - len(_HEAD_HOSTS)))

# cumulative Zipf weights for bisect draws (1/rank, rank 1-based)
import bisect as _bisect  # noqa: E402
import itertools as _it  # noqa: E402

_HOST_CUM = list(_it.accumulate(1.0 / (r + 1)
                                for r in range(len(LINK_HOSTS))))
_HOST_TOT = _HOST_CUM[-1]


def _zipf_host(rng: random.Random) -> str:
    return LINK_HOSTS[_bisect.bisect_left(_HOST_CUM,
                                          rng.random() * _HOST_TOT)]


def _anchors(doc_id: int, seed: int, lang: str,
             spec: CorpusSpec | None = None) -> str:
    """Deterministic <a href> anchors embedded in the page html (the
    web-graph half of a Common-Crawl page).  SEPARATE rng stream from
    the text sentences: text bytes (the byte-identity anchor of the
    whole suite) are untouched.

    Anchor TEXT is a gazetteer surface about half the time — inbound
    anchor text is the classic external-description signal web KGs
    feed into entity canonicalization, and drawing it from the same
    pinned vocabulary lets the anchor-profile operator be checked
    against the entity dimension."""
    rng = random.Random((seed << 33) ^ (doc_id * 0x9E3779B1))
    pools = []
    if spec is not None:
        pools = [p for p in (spec.countries, spec.tours, spec.singers)
                 if p]
    out = []
    for j in range(rng.randrange(5)):
        # own-pool head host gets ~50% of links outright; the rest
        # draw Zipf(1/rank) over the full 200-host pool — the
        # heavy-tailed dst-host degree skew real crawl graphs show
        host = LINK_HOSTS[0] if rng.random() < 0.5 \
            else _zipf_host(rng)
        tgt = rng.randrange(100000)
        if pools and rng.random() < 0.5:
            text = rng.choice(rng.choice(pools))
        else:
            text = f"l{j}"
        out.append(f'<a href="https://{host}/{lang}/{tgt:08d}">{text}</a>')
    return "".join(out)


_SPEC = None


def _default_spec() -> CorpusSpec:
    global _SPEC
    if _SPEC is None:
        _SPEC = CorpusSpec()
    return _SPEC


def gen_pages(n_docs: int, seed: int = 42, start: int = 0) -> list[dict]:
    spec = _default_spec()
    return [gen_page(i, seed, spec) for i in range(start, start + n_docs)]


def pages_dataframe(spark, n_docs: int, seed: int = 42,
                    partitions: int | None = None,
                    skew: tuple[str, float] | None = None):
    """Distributed generation: spark.range over doc ids -> mapInPandas.

    Scale path: generation happens on executors, one Arrow batch per id
    range split — no driver materialization (at 10^12 docs the corpus
    would come straight off Iceberg instead; this synthesizer stands in
    for that scan).
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ])

    def gen(batches):
        spec = _default_spec()
        for pdf in batches:
            rows = [gen_page(int(i), seed, spec, skew=skew)
                    for i in pdf["id"]]
            yield pd.DataFrame(rows)

    rng_df = spark.range(0, n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=schema)


def recrawl_pages(spark, n_docs: int, seed: int = 42, alt_seed: int = 43,
                  overlap_start: int | None = None,
                  change_mod: int = 5, ts_shift_min: int = 1440,
                  partitions: int | None = None):
    """Second crawl snapshot over a half-shifted url window: doc ids
    [overlap_start, overlap_start + n_docs) (default: n_docs//2 —
    half the ids overlap crawl 1, half are newly discovered), with
    warc_ts advanced by ts_shift_min and CHANGED content (alt_seed
    regeneration) for doc_id % change_mod == 0.  Deterministic per
    (seed, alt_seed, doc_id) like gen_page, so pyref tests can
    recompute the exact merge outcome."""
    import pandas as pd
    from pyspark.sql import types as T

    start = n_docs // 2 if overlap_start is None else overlap_start
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ])

    def gen(batches):
        spec = _default_spec()
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rows.append(recrawl_page(int(i), seed, alt_seed,
                                         change_mod, ts_shift_min, spec))
            yield pd.DataFrame(rows)

    rng_df = spark.range(start, start + n_docs,
                         numPartitions=partitions
                         or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=schema)


def recrawl_page(doc_id: int, seed: int = 42, alt_seed: int = 43,
                 change_mod: int = 5, ts_shift_min: int = 1440,
                 spec: CorpusSpec | None = None) -> dict:
    """One recrawl row: alt-seed content when changed, crawl-1 content
    otherwise; url is ALWAYS the crawl-1 url (the page moved in time,
    not in address), warc_ts advanced."""
    base = gen_page(doc_id, seed, spec)
    row = gen_page(doc_id,
                   alt_seed if doc_id % change_mod == 0 else seed, spec)
    row["url"] = base["url"]
    row["warc_ts"] = base["warc_ts"] + _dt.timedelta(minutes=ts_shift_min)
    return row
