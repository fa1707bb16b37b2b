"""Text-analysis scalar functions: token counting, quality scoring,
language ID, document fingerprinting.

All Catalyst-native (regexp/split/aggregate expressions — JVM-side,
whole-stage-codegen'd); the matching DuckDB SQL fragments live next to each
function so the driver oracle exercises identical logic.

Reference analogues: token counting shared/utils/chunking.py:42-56 (tiktoken
with char/4 fallback — here a deterministic regex tokenizer, same contract);
the rest are engine-side additions for training-data pipelines.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish lexer: word pieces (max 8 chars, so long words cost multiple
# tokens, like a real BPE) or single non-space punctuation.
TOKEN_PATTERN = r"\w{1,8}|[^\w\s]"
# The Python twin of TOKEN_PATTERN. Java regex (Spark) and RE2 (DuckDB) read
# \w and \s as ASCII classes, so Python must too: "café" is caf, é.
TOKEN_RE = re.compile(TOKEN_PATTERN, re.ASCII)
SENTENCE_PATTERN = r"[.!?]+(\s+|$)"  # reference chunking.py:187
WORD_PATTERN = r"\s+"

# tiny per-language stopword panels for the n-gram-free language heuristic
STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "la", "de", "que", "los", "una", "es", "por", "con", "para"),
}


def token_count(text: Column) -> Column:
    """Number of BPE-ish lexer tokens (deterministic tiktoken stand-in)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))


def token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '\\w{{1,8}}|[^\\w\\s]'))"


def word_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(t == "", 0).otherwise(F.size(F.split(t, WORD_PATTERN)))


def word_count_sql(expr: str) -> str:
    return (
        f"case when trim({expr}) = '' then 0 "
        f"else len(regexp_split_to_array(trim({expr}), '\\s+')) end"
    )


def sentence_count(text: Column) -> Column:
    """Sentences by the reference's terminator regex (chunking.py:187)."""
    return F.size(
        F.filter(
            F.transform(F.split(text, SENTENCE_PATTERN), lambda s: F.trim(s)),
            lambda s: s != "",
        )
    )


def sentence_count_sql(expr: str) -> str:
    return (
        f"len(list_filter(list_transform(regexp_split_to_array({expr}, "
        f"'[.!?]+(\\s+|$)'), s -> trim(s)), s -> s <> ''))"
    )


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    words = F.split(F.lower(F.trim(text)), WORD_PATTERN)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    return hits / F.greatest(F.size(words), F.lit(1))


def stopword_ratio_sql(expr: str, lang: str = "en") -> str:
    panel = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(regexp_split_to_array(lower(trim({expr})), '\\s+'), "
        f"w -> w in ({panel}))) "
        f"/ greatest(len(regexp_split_to_array(lower(trim({expr})), '\\s+')), 1)"
    )


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of stopword-panel hit ratios."""
    result = F.lit("unknown")
    best = F.lit(0.0)
    # evaluate in fixed order; strict > keeps ties on the earlier language
    for code in ("en", "de", "fr", "es"):
        r = stopword_ratio(text, code)
        result = F.when(r > best, F.lit(code)).otherwise(result)
        best = F.greatest(r, best)
    return result


def lang_id_sql(expr: str) -> str:
    ratios = {code: stopword_ratio_sql(expr, code) for code in ("en", "de", "fr", "es")}
    # same fixed-order argmax with strict > tie-keeping
    sql = "'unknown'"
    best = "0.0"
    for code in ("en", "de", "fr", "es"):
        r = ratios[code]
        sql = f"case when ({r}) > ({best}) then '{code}' else {sql} end"
        best = f"greatest(({r}), ({best}))"
    return sql


def quality_score(text: Column) -> Column:
    """[0,1] heuristic doc-quality: length, word shape, stopword presence.

    score = 0.4*min(1, words/200) + 0.3*(mean word len in [3,12])
          + 0.3*min(1, stopword_ratio*5)
    """
    wc = word_count(text)
    mean_wl = F.length(F.regexp_replace(text, r"\s+", "")) / F.greatest(wc, F.lit(1))
    len_term = F.least(wc / F.lit(200.0), F.lit(1.0))
    shape_term = F.when((mean_wl >= 3) & (mean_wl <= 12), 1.0).otherwise(0.0)
    sw_term = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    return F.round(0.4 * len_term + 0.3 * shape_term + 0.3 * sw_term, 6)


def quality_score_sql(expr: str) -> str:
    wc = word_count_sql(expr)
    mean_wl = f"(length(regexp_replace({expr}, '\\s+', '', 'g')) / greatest(({wc}), 1))"
    len_term = f"least(({wc}) / 200.0, 1.0)"
    shape_term = f"case when ({mean_wl}) >= 3 and ({mean_wl}) <= 12 then 1.0 else 0.0 end"
    sw_term = f"least(({stopword_ratio_sql(expr)}) * 5.0, 1.0)"
    return f"round(0.4 * ({len_term}) + 0.3 * ({shape_term}) + 0.3 * ({sw_term}), 6)"


def fingerprint(text: Column) -> Column:
    """Stable content fingerprint: md5 of whitespace-normalized lowercase."""
    return F.md5(F.encode(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), "UTF-8"))


def fingerprint_sql(expr: str) -> str:
    return f"md5(regexp_replace(lower(trim({expr})), '\\s+', ' ', 'g'))"


def _h32(s: Column) -> Column:
    """32-bit rolling-gram hash: first 8 md5 hex chars as a long (md5 is
    bit-identical across engines; 32 bits keeps the cast ANSI-safe)."""
    return F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8), 16, 10).cast("long")


def winnow_fingerprints(text: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    local fingerprinting algorithm): hash every k-char gram, slide a
    w-gram window, keep each window's minimum hash; the sorted distinct
    minima are a position-robust fingerprint SET — shared substrings of
    length ≥ k + w - 1 are guaranteed to share a selected print.

    Catalyst-native (transform/slice/array_min over char grams), with
    ``winnow_sql`` as the DuckDB twin. Degenerate inputs: text shorter
    than one gram hashes whole; fewer grams than a window yields the
    single global minimum.

    The gram array is LET-BOUND via a one-element-array transform before
    the window pass — referenced as a plain subexpression it would be
    re-inlined into every window's slice and the per-row cost goes
    O(grams²) in md5 calls (measured 280 s for 500 docs at sf0.01; the
    bound form runs in seconds). The same binding trick (lambda variables
    evaluate once) is applied on the DuckDB side."""
    t = F.lower(text)
    n = F.length(t)
    m = F.greatest(n - F.lit(k - 1), F.lit(1))  # ≥1: short text → one gram
    grams = F.transform(
        F.sequence(F.lit(1), m), lambda i: _h32(F.substr(t, i, F.lit(k)))
    )

    def prints(g):
        mwin = F.size(g) - F.lit(w - 1)
        wins = F.when(mwin < 1, F.array(F.array_min(g))).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(mwin, F.lit(1))),
                lambda j: F.array_min(F.slice(g, j, w)),
            )
        )
        return F.array_sort(F.array_distinct(wins))

    return F.element_at(F.transform(F.array(grams), prints), 1)


def winnow_sql(expr: str, k: int = 8, w: int = 4) -> str:
    """DuckDB twin of ``winnow_fingerprints`` (same let-binding shape)."""
    t = f"lower({expr})"

    def h(s: str) -> str:
        return f"('0x' || substr(md5({s}), 1, 8))::bigint"

    grams = (
        f"list_transform(range(1, greatest(length({t}) - {k} + 1, 1) + 1), "
        f"i -> {h(f'substr({t}, i, {k})')})"
    )
    wins = (
        f"case when len(g) - {w - 1} < 1 then [list_min(g)] "
        f"else list_transform(range(1, len(g) - {w} + 2), "
        f"j -> list_min(g[j:j+{w - 1}])) end"
    )
    return (
        f"(list_transform([{grams}], g -> list_sort(list_distinct({wins}))))[1]"
    )
