"""Text-analysis Column functions for the training-data pipeline:
language ID, quality scoring, token counting, document fingerprinting.

All pure `pyspark.sql.functions` expressions (JVM-side, whole-stage
codegen) — no Python in the hot path — and each has an exact DuckDB
SQL twin (the *_sql constants) for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import md5_int, md5_int_sql

# small English stopword set for the n-gram-free language heuristic
_EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")


def token_count(col) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    return F.when(F.trim(col) == "", 0).otherwise(
        F.size(F.split(F.trim(col), r"\s+"))).cast("int")


def token_count_sql(expr: str) -> str:
    return (f"CAST(CASE WHEN trim({expr}) = '' THEN 0 ELSE "
            f"length(regexp_split_to_array(trim({expr}), '\\s+')) END AS INT)")


def hangul_ratio(col) -> Column:
    """Fraction of chars in the Hangul syllable block (language ID
    signal; >0.3 -> ko in practice for this corpus)."""
    stripped = F.regexp_replace(col, "[가-힣]", "")
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        (F.length(col) - F.length(stripped)) / F.length(col))


def hangul_ratio_sql(expr: str) -> str:
    return (f"CASE WHEN length({expr}) = 0 THEN 0.0 ELSE "
            f"(length({expr}) - length(regexp_replace({expr}, '[가-힣]', '', 'g')))"
            f" * 1.0 / length({expr}) END")


def lang_id(col) -> Column:
    """Heuristic language ID: hangul-dominant -> 'ko', else stopword
    evidence -> 'en', else 'unknown'."""
    lower = F.lower(col)
    stop_hits = sum(
        (F.when(F.concat(F.lit(" "), lower, F.lit(" "))
          .contains(f" {w} "), 1).otherwise(0) for w in _EN_STOPWORDS),
        F.lit(0))
    return (F.when(hangul_ratio(col) > 0.3, "ko")
            .when(stop_hits >= 2, "en")
            .otherwise("unknown"))


def lang_id_sql(expr: str) -> str:
    stop_hits = " + ".join(
        f"CASE WHEN concat(' ', lower({expr}), ' ') LIKE '% {w} %' THEN 1 ELSE 0 END"
        for w in _EN_STOPWORDS)
    return (f"CASE WHEN {hangul_ratio_sql(expr)} > 0.3 THEN 'ko' "
            f"WHEN ({stop_hits}) >= 2 THEN 'en' ELSE 'unknown' END")


def quality_score(col) -> Column:
    """Integer quality score in [0, 100]: length band + word-length
    sanity + punctuation-density penalty.  Integer-valued so the
    DuckDB oracle hash-matches exactly."""
    n_chars = F.length(col)
    n_toks = token_count(col)
    punct = F.length(col) - F.length(F.regexp_replace(col, r"[!?.,;:#*]", ""))
    len_band = (F.when(n_chars >= 200, 40)
                .when(n_chars >= 50, 30)
                .when(n_chars >= 10, 15)
                .otherwise(0))
    tok_band = (F.when((n_toks >= 5) & (n_toks <= 500), 40)
                .when(n_toks > 0, 20).otherwise(0))
    punct_pen = F.least(F.lit(20), (punct * 100 / F.greatest(n_chars, F.lit(1))).cast("int"))
    return (len_band + tok_band + F.lit(20) - punct_pen).cast("int")


def quality_score_sql(expr: str) -> str:
    n_chars = f"length({expr})"
    n_toks = token_count_sql(expr)
    punct = f"(length({expr}) - length(regexp_replace({expr}, '[!?.,;:#*]', '', 'g')))"
    len_band = (f"CASE WHEN {n_chars} >= 200 THEN 40 WHEN {n_chars} >= 50 THEN 30 "
                f"WHEN {n_chars} >= 10 THEN 15 ELSE 0 END")
    tok_band = (f"CASE WHEN {n_toks} >= 5 AND {n_toks} <= 500 THEN 40 "
                f"WHEN {n_toks} > 0 THEN 20 ELSE 0 END")
    punct_pen = f"least(20, CAST({punct} * 100 / greatest({n_chars}, 1) AS INT))"
    return f"CAST({len_band} + {tok_band} + 20 - {punct_pen} AS INT)"


# the reference's inline-annotation pattern <form:label>
# (mecab_category_storage.py:368-408, set_cat_dict)
NE_TAG_PATTERN = r"<([^:]+):([\d\w]+)>"


def regex_entities(col) -> Column:
    """L4 regex NE extraction (reference set_cat_dict,
    mecab_category_storage.py:368-408): every <form:label> tag in the
    text as an array of (form, label) structs — JVM-side
    regexp_extract_all, zero Python."""
    forms = F.regexp_extract_all(col, F.lit(NE_TAG_PATTERN), 1)
    labels = F.regexp_extract_all(col, F.lit(NE_TAG_PATTERN), 2)
    return F.arrays_zip(forms.alias("form"), labels.alias("label"))


def strip_ne_tags(col) -> Column:
    """The re.sub twin (reference :404-406): tags replaced by their
    form, yielding the plain text."""
    return F.regexp_replace(col, NE_TAG_PATTERN, r"$1")


# smart quotes / unicode dashes -> ASCII; kept as two parallel literal
# strings so the Spark translate() and DuckDB translate() twins can
# never drift (one definition, two renderers)
_XLATE_FROM = "“”‘’—– "
_XLATE_TO = "\"\"''-- "


def normalize_text(col) -> Column:
    """Canonical text normalization for dedup/fingerprint keys:
    smart quotes + unicode dashes + NBSP -> ASCII (translate),
    lowercase, trim, collapse whitespace runs.  Pure JVM expression
    chain (translate + lower + regexp_replace), zero UDF — the
    normalization every exact-dedup and shingle key should share so
    typographically-restyled copies of the same page collide."""
    t = F.translate(col, _XLATE_FROM, _XLATE_TO)
    return F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")


def normalize_text_sql(expr: str) -> str:
    """DuckDB twin of normalize_text (same translate map, same
    collapse).  The ASCII quotes in _XLATE_TO must be doubled inside
    the SQL literal or translate() silently loses a position and the
    NBSP->space mapping shifts off the end."""
    to_lit = _XLATE_TO.replace("'", "''")
    t = f"translate({expr}, '{_XLATE_FROM}', '{to_lit}')"
    return f"regexp_replace(lower(trim({t})), '\\s+', ' ', 'g')"


# script classes for the per-doc script-mix profile (multilingual
# routing / mojibake detection): each is (name, char-class regex)
_SCRIPT_CLASSES = (("latin", "[a-zA-Z]"), ("digit", "[0-9]"),
                   ("hangul", "[가-힣]"), ("space", r"\s"))


def script_mix_ppm(col) -> list:
    """Per-row script composition in integer ppm of characters:
    latin / digit / hangul / whitespace (the remainder is punctuation
    + symbols).  The language-routing and mojibake-detection signal a
    multilingual pipeline gates on before tokenizer choice.  Pure
    regexp_replace length arithmetic — codegen, zero UDF."""
    n = F.greatest(F.length(col), F.lit(1))
    cols = []
    for name, cls in _SCRIPT_CLASSES:
        hits = F.length(col) - F.length(F.regexp_replace(col, cls, ""))
        cols.append(F.floor(hits * F.lit(1_000_000) / n)
                    .cast("bigint").alias(f"{name}_ppm"))
    return cols


def script_mix_ppm_sql(expr: str) -> list:
    """DuckDB twins of script_mix_ppm, same order/aliases."""
    n = f"greatest(length({expr}), 1)"
    out = []
    for name, cls in _SCRIPT_CLASSES:
        hits = (f"(length({expr}) - length(regexp_replace({expr}, "
                f"'{cls}', '', 'g')))")
        out.append(f"CAST(({hits} * 1000000) // {n} AS BIGINT)"
                   f" AS {name}_ppm")
    return out


def fingerprint(col) -> Column:
    """Order-sensitive document fingerprint: md5-int of the
    whitespace-normalized lowercased text (rolling-hash equivalent at
    document granularity; exact-dedup key)."""
    norm = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return md5_int(norm)


def fingerprint_sql(expr: str) -> str:
    norm = f"regexp_replace(lower(trim({expr})), '\\s+', ' ', 'g')"
    return md5_int_sql(norm)


def _let(val, body) -> Column:
    """Let-binding for expensive sub-expressions inside array
    expressions: evaluate `val` ONCE and hand it to `body` as a bound
    lambda variable.  Higher-order functions are interpreted and a
    lambda (or a repeated projection term) that references an outer
    EXPRESSION re-evaluates it on every use — binding it through a
    single-element transform turns those uses into cheap variable
    reads (the winnowing O(n^2)-md5 lesson, operators/dedup.py)."""
    return F.element_at(F.transform(F.array(val), body), 1)


# PII patterns (applied in THIS order — the resident-ID pattern must
# run before the phone pattern so its 6-digit prefix is never eaten
# by a partial phone match).  Plain RE2-compatible syntax so the Java
# regex engine (Spark) and DuckDB's RE2 agree byte-for-byte.
PII_PATTERNS = (
    ("n_id", r"\b\d{6}-\d{7}\b", "<ID>"),
    ("n_phone", r"\b0\d{1,2}-\d{3,4}-\d{4}\b", "<PHONE>"),
    ("n_email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
)


def pii_redact(col) -> Column:
    """PII scrubbing for pretraining corpora: resident-ID / phone /
    email occurrences replaced by typed placeholder tokens, applied
    sequentially in PII_PATTERNS order.  Pure JVM regexp_replace
    chain — per-row, codegen-side, no shuffle: at 100 TB this is a
    linear map over the text column like quality_score."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col) -> list:
    """Per-type PII hit counts as aliased int Columns
    (n_id, n_phone, n_email).  Each pattern is counted on the text
    AFTER the earlier patterns were redacted — identical to the
    sequential-replace semantics of pii_redact, so
    sum(counts) == number of placeholders in the redacted text."""
    cols = []
    cur = col
    for name, pat, repl in PII_PATTERNS:
        cols.append(F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
                    .cast("int").alias(name))
        cur = F.regexp_replace(cur, pat, repl)
    return cols


def pii_redact_sql(expr: str) -> str:
    out = expr
    for _, pat, repl in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


def pii_counts_sql(expr: str) -> list:
    """DuckDB twins of pii_counts: (sql, alias) pairs in order."""
    out = []
    cur = expr
    for name, pat, repl in PII_PATTERNS:
        out.append((f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS INT)",
                    name))
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    return out


def duplicate_ngram_ppm(col, n: int = 2) -> Column:
    """Within-document repetition score (the Gopher-family
    duplicate-n-gram quality rule, Rae et al. 2021 §A1.1): the
    fraction of word n-gram OCCURRENCES that are repeats of an
    earlier n-gram in the same document, in integer parts-per-million
    (floats never cross the oracle boundary).  Templated/boilerplate
    web text scores high; natural prose scores near 0.

    Pure array expressions (split -> transform/slice -> array_distinct)
    — per-row, codegen-side, no explode and no shuffle: at 100 TB this
    is a linear scan column like quality_score."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")

    def _score(g):
        total = F.size(g)
        dis = F.size(F.array_distinct(g))
        return (F.when(total > 0,
                       F.floor((total - dis) * F.lit(1_000_000) / total))
                .otherwise(F.lit(0)))

    def _grams(t):
        idxs = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
        g = F.filter(
            F.transform(idxs,
                        lambda i: F.array_join(F.slice(t, i + 1, n), " ")),
            lambda x: x != "")
        return _let(g, _score)

    # toks and grams both _let-bound: the gram lambda re-evaluates the
    # split per element and total/dis re-evaluate the gram build
    return _let(toks, _grams).cast("bigint")


def duplicate_ngram_ppm_sql(expr: str, n: int = 2) -> str:
    """DuckDB twin of duplicate_ngram_ppm (same slice truncation at
    the array tail, same empty-gram filter, integer floor division)."""
    w = (f"regexp_split_to_array(regexp_replace(lower(trim({expr})), "
         f"'\\s+', ' ', 'g'), ' ')")
    grams = (f"list_filter(list_transform("
             f"range(0, greatest(len({w}) - {n}, 0) + 1), "
             f"i -> array_to_string({w}[i + 1 : least(i + {n}, len({w}))], ' ')), "
             f"g -> g <> '')")
    total = f"len({grams})"
    dis = f"len(list_distinct({grams}))"
    return (f"CASE WHEN {total} > 0 THEN "
            f"CAST(({total} - {dis}) * 1000000 // {total} AS BIGINT) "
            f"ELSE 0 END")


# ---- URL canonicalization -------------------------------------------------
# Crawl-frontier URL normalization (the WARC/CDX canonicalization every
# Common-Crawl-style pipeline applies before URL-level dedup):
#   1. lowercase scheme + authority (path/query stay case-sensitive)
#   2. drop the #fragment
#   3. strip utm_* tracking parameters (two bounded passes handle runs
#      of up to 3 consecutive utm params; RE2-safe — no lookahead, so
#      the DuckDB twin is byte-identical)
#   4. collapse "/?": slash-before-query equals no-slash
#   5. strip trailing slashes
# All patterns avoid lookahead/backreference-in-pattern so Java regex
# (Spark) and RE2 (DuckDB) agree byte-for-byte.

_URL_SPLIT = "^([^:/?#]+://[^/?#]*)(.*)$"


def canonical_url(col) -> Column:
    # schemeless input: regexp_extract returns '' for BOTH groups on a
    # no-match, which would erase the url — pass it through unchanged
    # into the rest of the chain instead
    lowered = F.when(
        col.rlike("^[^:/?#]+://"),
        F.concat(F.lower(F.regexp_extract(col, _URL_SPLIT, 1)),
                 F.regexp_extract(col, _URL_SPLIT, 2))).otherwise(col)
    no_frag = F.regexp_replace(lowered, "#.*", "")
    u = F.regexp_replace(no_frag, "([?&])utm_[^&]*&", "$1")
    u = F.regexp_replace(u, "([?&])utm_[^&]*&", "$1")
    u = F.regexp_replace(u, "([?&])utm_[^&]*$", "")
    u = F.regexp_replace(u, "/[?]", "?")
    return F.regexp_replace(u, "/+$", "")


def canonical_url_sql(expr: str) -> str:
    lowered = (f"(CASE WHEN regexp_matches({expr}, '^[^:/?#]+://') THEN "
               f"lower(regexp_extract({expr}, '{_URL_SPLIT}', 1)) || "
               f"regexp_extract({expr}, '{_URL_SPLIT}', 2) "
               f"ELSE {expr} END)")
    no_frag = f"regexp_replace({lowered}, '#.*', '', 'g')"
    u = f"regexp_replace({no_frag}, '([?&])utm_[^&]*&', '\\1', 'g')"
    u = f"regexp_replace({u}, '([?&])utm_[^&]*&', '\\1', 'g')"
    u = f"regexp_replace({u}, '([?&])utm_[^&]*$', '', 'g')"
    u = f"regexp_replace({u}, '/[?]', '?', 'g')"
    return f"regexp_replace({u}, '/+$', '', 'g')"


# ---- html -> text extraction ----------------------------------------------

_HTML_ENTITIES = (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                  ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"))


def html_to_text(col) -> Column:
    """Main-content text extraction from raw page html (the
    Common-Crawl WET step, simplified): drop <script>/<style> blocks
    wholesale, strip remaining tags to spaces, decode the common
    entities (&amp; LAST so it cannot manufacture new entities),
    collapse whitespace.  Pure JVM regexp chain — runs inside the same
    codegen stage as the scan; the python twin used by tests is
    tests/test_weblinks.py::_pyref_html_to_text."""
    s = F.regexp_replace(col, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    s = F.regexp_replace(s, r"<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


# default corpus-safety phrase blocklist for q-level demos/tests; a
# production pipeline injects its own list (broadcast-sized: phrase
# blocklists are thousands of entries, trivially literal-expandable
# or broadcast-joined against exploded n-grams at larger sizes)
BLOCKLIST_PHRASES = ("table table", "fast scan", "query big")


def blocklist_phrase_counts(col, phrases=BLOCKLIST_PHRASES) -> list:
    """Per-phrase occurrence counts with word-boundary semantics:
    count of non-overlapping ' phrase ' matches in the space-padded
    normalized text, computed as (len(t) - len(replace(t, p, '')))
    / len(p) — pure JVM string expressions, one column per phrase.
    Adjacent repeats sharing a boundary space count once per
    non-overlapping match (replace is left-greedy in both engines,
    so the count is deterministic and oracle-identical).  This is the
    safety/boilerplate phrase filter every corpus release runs
    (blocklist NSFW terms, license boilerplate, error-page strings)."""
    padded = F.concat(F.lit(" "), normalize_text(col), F.lit(" "))
    out = []
    for p in phrases:
        needle = f" {p} "
        cnt = ((F.length(padded)
                - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
               / F.lit(len(needle))).cast("bigint")
        out.append(cnt.alias("bl_" + p.replace(" ", "_")))
    return out


def blocklist_phrase_counts_sql(expr: str,
                                phrases=BLOCKLIST_PHRASES) -> list:
    """DuckDB twin of blocklist_phrase_counts (same padding, same
    replace-count identity)."""
    padded = f"(' ' || {normalize_text_sql(expr)} || ' ')"
    out = []
    for p in phrases:
        needle = f" {p} "
        lit = needle.replace("'", "''")
        cnt = (f"CAST((length({padded}) - length(replace({padded}, "
               f"'{lit}', ''))) / {len(needle)} AS BIGINT)")
        out.append((cnt, "bl_" + p.replace(" ", "_")))
    return out


# ---- C4 line-rule cleaning -------------------------------------------------
# The line-level heuristics of C4 (Raffel et al. 2020 §2.2): keep only
# lines ending in terminal punctuation, with enough words, and without
# the word "javascript"; drop the whole page on "lorem ipsum" or too
# few surviving lines.  All pure array/string expressions (each output
# column _let-binds the line array once — no per-element re-eval of
# the split), so the rules run inside the scan stage like every other
# quality gate.

C4_MIN_WORDS = 3
C4_MIN_KEPT_LINES = 3


def c4_line_stats(col, min_words: int = C4_MIN_WORDS,
                  min_kept: int = C4_MIN_KEPT_LINES) -> list:
    """Per-page C4 line-rule outcome columns: (n_lines, n_kept,
    n_drop_punct, n_drop_short, n_drop_js, clean_fp, page_drop).
    Drop attribution is hierarchical (punctuation first, then word
    count, then javascript) so the three counters + n_kept always sum
    to n_lines.  clean_fp = md5 of the kept lines re-joined — the
    dedup key of the CLEANED page."""
    def punct_ok(t):
        return F.trim(t).rlike('[.!?"]$')

    def wc(t):
        return F.size(F.filter(F.split(F.trim(t), " "),
                               lambda w: w != ""))

    def is_js(t):
        return F.lower(t).contains("javascript")

    def keep(t):
        return punct_ok(t) & (wc(t) >= min_words) & ~is_js(t)

    lines = F.split(col, "\n")

    def stat(body, name):
        return _let(lines, body).cast("bigint").alias(name)

    kept_text = _let(lines, lambda ls: F.array_join(
        F.filter(ls, keep), "\n"))
    n_kept_expr = _let(lines, lambda ls: F.size(F.filter(ls, keep)))
    page_drop = (F.lower(col).contains("lorem ipsum")
                 | (n_kept_expr < min_kept)).cast("int")
    return [
        stat(lambda ls: F.size(ls), "n_lines"),
        stat(lambda ls: F.size(F.filter(ls, keep)), "n_kept"),
        stat(lambda ls: F.size(F.filter(
            ls, lambda t: ~punct_ok(t))), "n_drop_punct"),
        stat(lambda ls: F.size(F.filter(
            ls, lambda t: punct_ok(t) & (wc(t) < min_words))),
            "n_drop_short"),
        stat(lambda ls: F.size(F.filter(
            ls, lambda t: punct_ok(t) & (wc(t) >= min_words)
            & is_js(t))), "n_drop_js"),
        F.md5(kept_text).alias("clean_fp"),
        page_drop.alias("page_drop"),
    ]


def c4_line_stats_sql(expr: str, min_words: int = C4_MIN_WORDS,
                      min_kept: int = C4_MIN_KEPT_LINES) -> list:
    """DuckDB twin of c4_line_stats (same rules, same hierarchy, same
    md5-of-kept fingerprint).  Returns (sql, name) pairs."""
    ls = f"string_split({expr}, chr(10))"
    punct = "regexp_matches(trim({t}), '[.!?\"]$')"
    wcnt = ("len(list_filter(string_split(trim({t}), ' '), "
            "w -> w <> ''))")
    js = "contains(lower({t}), 'javascript')"
    keep = (f"({punct} AND {wcnt} >= {min_words} AND NOT {js})"
            .replace("{t}", "t"))
    kept = f"list_filter({ls}, t -> {keep})"
    out = [
        (f"CAST(len({ls}) AS BIGINT)", "n_lines"),
        (f"CAST(len({kept}) AS BIGINT)", "n_kept"),
        (f"CAST(len(list_filter({ls}, t -> NOT "
         + punct.replace("{t}", "t") + ")) AS BIGINT)", "n_drop_punct"),
        (f"CAST(len(list_filter({ls}, t -> "
         + punct.replace("{t}", "t") + " AND "
         + wcnt.replace("{t}", "t") + f" < {min_words})) AS BIGINT)",
         "n_drop_short"),
        (f"CAST(len(list_filter({ls}, t -> "
         + punct.replace("{t}", "t") + " AND "
         + wcnt.replace("{t}", "t") + f" >= {min_words} AND "
         + js.replace("{t}", "t") + ")) AS BIGINT)", "n_drop_js"),
        # coalesce: DuckDB's array_to_string of an EMPTY list is NULL,
        # Spark's array_join is '' — md5('') must match
        (f"md5(coalesce(array_to_string({kept}, chr(10)), ''))",
         "clean_fp"),
        (f"CAST(CASE WHEN contains(lower({expr}), 'lorem ipsum') "
         f"OR len({kept}) < {min_kept} THEN 1 ELSE 0 END AS INT)",
         "page_drop"),
    ]
    return out
