"""Text-analysis column functions for training-data pipelines.

All JVM-side ``pyspark.sql.functions`` compositions (whole-stage
codegen'd, no Python in the hot path): language ID, quality scoring,
token counting, document fingerprinting. Each has an exact ANSI-SQL
twin in ``westa_ocr_spark.registry`` so the DuckDB oracle can verify it.

These generalize the reference's per-row text functions (SURVEY.md
§2.6: substring containment X2, regex extraction X3/X4, token masking
X10, deterministic content-derived ids X11/X12).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def round_det(col: Column, digits: int = 6) -> Column:
    """Engine-deterministic rounding: floor(x*10^n + 0.5)/10^n.

    Native ``round()`` diverges across engines on representation
    boundaries (Spark rounds the exact decimal expansion of the
    double, DuckDB rounds a scaled float); this formula is the same
    primitive float ops everywhere, so DuckDB oracles match bit-wise.
    """
    scale = F.lit(float(10 ** digits))
    return F.floor(col * scale + F.lit(0.5)) / scale

# occurrences of a padded stopword, counted via replace-length delta —
# the same expression is valid SQL in DuckDB, guaranteeing parity.
def _count_occurrences(col: Column, needle: str) -> Column:
    pad = F.concat(F.lit(" "), col, F.lit(" "))
    return (
        (F.length(pad) - F.length(F.replace(pad, F.lit(needle))))
        / F.lit(len(needle))
    ).cast("long")


# Stopword/function-word profiles, 12 languages x 8 markers. Entries
# carry their own padding: space-delimited scripts pad " word " so only
# whole words count; CJK entries are unpadded substrings (no word
# boundaries in those scripts). The same table generates the DuckDB
# oracle twin in the registry, so both sides move together.
_LANG_STOPWORDS = {
    "en": [" the ", " and ", " of ", " to ", " in ", " is ", " that ",
           " for "],
    "de": [" der ", " und ", " die ", " das ", " nicht ", " ist ",
           " ein ", " mit "],
    "fr": [" le ", " et ", " les ", " des ", " une ", " dans ", " est ",
           " pour "],
    "es": [" el ", " y ", " los ", " las ", " una ", " para ", " con ",
           " por "],
    "it": [" il ", " e ", " di ", " che ", " per ", " della ", " sono ",
           " anche "],
    "pt": [" o ", " de ", " que ", " em ", " para ", " com ", " uma ",
           " os "],
    "nl": [" de ", " het ", " en ", " van ", " een ", " niet ", " met ",
           " voor "],
    "sv": [" och ", " att ", " det ", " som ", " en ", " av ", " inte ",
           " har "],
    "pl": [" i ", " w ", " nie ", " na ", " jest ", " do ", " to ",
           " z "],
    "ru": [" и ", " в ", " не ", " на ", " что ", " это ", " как ",
           " по "],
    "ja": ["の", "は", "に", "を", "です", "ます", "した", "こと"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我"],
}


_CJK_LANGS = {"ja", "zh"}


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language marker-hit counts.

    Space-delimited languages count word-array membership (ONE token
    scan per language over an 8-element literal set — round 3; the
    previous 8-replace-per-language form rescanned the full text 80
    times per row). CJK markers have no word boundaries and stay
    substring replace-counts. Consecutive duplicate stopwords now
    count exactly (the padded-replace form undercounted "the the the"
    as 2 — non-overlapping scan shared the boundary space); the DuckDB
    twin moved in lockstep.
    """
    words = F.split(col, " ")
    out: dict[str, Column] = {}
    for lang, markers in _LANG_STOPWORDS.items():
        if lang in _CJK_LANGS:
            out[lang] = sum(
                (_count_occurrences(col, w) for w in markers),
                F.lit(0).cast("long"),
            )
        else:
            toks = F.array(*[F.lit(m.strip()) for m in markers])
            out[lang] = F.size(
                F.filter(words, lambda w: F.array_contains(toks, w))
            ).cast("long")
    return out


_LANGS_SORTED = sorted(_LANG_STOPWORDS)


def _lang_marker_tables():
    """word -> per-language contribution vector (space-delimited
    languages; a marker shared by two languages contributes to both),
    plus (lang index, markers) for the CJK substring counters. Indexes
    follow the sorted language order the argmax tie-break uses."""
    contrib: dict[str, list[int]] = {}
    n = len(_LANGS_SORTED)
    for li, lang in enumerate(_LANGS_SORTED):
        if lang in _CJK_LANGS:
            continue
        for m in _LANG_STOPWORDS[lang]:
            w = m.strip()
            v = contrib.setdefault(w, [0] * n)
            v[li] += 1
    cjk = [
        (li, _LANG_STOPWORDS[lang])
        for li, lang in enumerate(_LANGS_SORTED)
        if lang in _CJK_LANGS
    ]
    return contrib, cjk


def _lang_id_py(text, contrib, cjk) -> str:
    """Per-document language ID, integer-exact twin of the DuckDB
    expression form: split-on-space token membership counts for
    space-delimited languages (Counter collapses the token scan to one
    dict probe per DISTINCT token), non-overlapping substring counts
    for CJK (str.count == the replace-length-delta formula), argmax
    with ties to the alphabetically smallest language, all-zero ->
    'und'."""
    from collections import Counter

    n = len(_LANGS_SORTED)
    counts = [0] * n
    if isinstance(text, str):  # None and pandas' NaN give 'und'
        for w, c in Counter(text.split(" ")).items():
            v = contrib.get(w)
            if v is not None:
                for i, vi in enumerate(v):
                    if vi:
                        counts[i] += vi * c
        pad = f" {text} "
        for li, markers in cjk:
            counts[li] = sum(pad.count(m) for m in markers)
    best = max(counts)
    if best <= 0:
        return "und"
    return _LANGS_SORTED[counts.index(best)]


def _lang_id_batches(it):
    contrib, cjk = _lang_marker_tables()
    for s in it:
        yield s.map(lambda t: _lang_id_py(t, contrib, cjk))


def _lang_id_udf():
    @F.pandas_udf("string")
    def lang_id_vec(
        it: Iterator[pd.Series],
    ) -> Iterator[pd.Series]:
        return _lang_id_batches(it)

    return lang_id_vec


def with_lang_id(df, text_col: str):
    """Staged language ID: adds ``lang_id`` to ``df`` (the scale path).

    Vectorized Arrow path: a JVM expression form of the same argmax
    (an ``array_max`` over per-language score structs) is 10
    interpreted higher-order ``filter`` lambdas plus 16 padded-replace
    chains per row — CodegenFallback, measured 4.8 s over 50k docs at
    sf1.0; the batched Python form with one dict probe per distinct
    token runs the same integer counts in 0.95 s. Marker-hit counts
    are integers, so the argmax (ties to the alphabetically smallest
    language, all-zero -> 'und') is engine-exact and equal to the
    DuckDB twin (``queries.common._sql_lang_best``); equality is
    pinned by tests/test_textfns.py::test_with_lang_id_matches_jvm_form.
    Only ``text_col`` crosses the Python boundary (ArrowEvalPython sees
    one column regardless of df width)."""
    return df.withColumn("lang_id", _lang_id_udf()(F.col(text_col)))


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for blank)."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: alpha runs, digit runs, single symbols."""
    return F.size(
        F.regexp_extract_all(
            col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
        )
    ).cast("long")


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, r"[^\.,;:!\?]", "")
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        F.length(stripped).cast("double") / F.length(col)
    )


def stopword_ratio(col: Column) -> Column:
    # total marker hits across all languages = sum of the lang_scores
    # counters (word-array membership for space-delimited languages,
    # substring counts for CJK — a marker shared by two languages,
    # e.g. ' de ' in nl and pt, still counts once per language)
    toks = token_count(col)
    stops = sum(lang_scores(col).values(), F.lit(0).cast("long"))
    return F.when(toks == 0, F.lit(0.0)).otherwise(
        stops.cast("double") / toks.cast("double")
    )


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1], rounded to 6 dp.

    0.4 * length factor (saturates at 500 chars)
    + 0.3 * stopword factor (saturates at ratio 0.2)
    + 0.3 * (1 - punctuation excess beyond 10%)
    """
    length_f = F.least(F.length(col).cast("double") / F.lit(500.0), F.lit(1.0))
    stop_f = F.least(stopword_ratio(col) / F.lit(0.2), F.lit(1.0))
    punct_f = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.greatest(
            F.lit(0.0), punct_ratio(col) - F.lit(0.1)
        ) * F.lit(5.0)
    )
    return round_det(
        F.lit(0.4) * length_f + F.lit(0.3) * stop_f + F.lit(0.3) * punct_f, 6
    )


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, alnum+space only,
    collapsed single spaces, trimmed."""
    lowered = F.lower(col)
    alnum = F.regexp_replace(lowered, r"[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(alnum, r" +", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic content fingerprint (md5 of normalized text)."""
    return F.md5(normalize_text(col))


def with_quality_flags(df, text_col: str):
    """Staged Gopher gate + repetition metrics (the scale path).

    Lambdas re-evaluate referenced EXPRESSIONS per array element, so
    the words array and the bigram array must be real columns before
    any list-scan touches them (measured ~50x on the inline form:
    normalize+split re-ran inside every bigram-frequency probe).
    Three projections: words -> bigrams -> metrics.
    """
    stage1 = df.select(
        "*",
        F.filter(
            F.split(normalize_text(F.col(text_col)), " "),
            lambda w: F.length(w) > 0,
        ).alias("_qw"),
    )
    w = F.col("_qw")
    n = F.size(w)
    idx = F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1)))
    stage2 = stage1.select(
        "*",
        F.array_sort(
            F.when(
                n >= 2,
                F.transform(
                    idx, lambda i: F.concat_ws(" ", F.slice(w, i, 2))
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_qbg"),
    )
    bg = F.col("_qbg")
    nb = F.size(bg)
    col = F.col(text_col)
    stop_hits = sum(
        (_count_occurrences(col, word) for word in _LANG_STOPWORDS["en"]),
        F.lit(0).cast("long"),
    )
    alnum_chars = F.length(F.concat_ws("", w)).cast("double")
    mean_len = F.when(n > 0, round_det(alnum_chars / n, 6)).otherwise(
        F.lit(0.0)
    )
    sym = F.length(F.regexp_replace(F.lower(col), r"[a-z0-9\s]", ""))
    total_chars = F.length(col).cast("double")
    symbol_ratio = F.when(
        total_chars > 0, round_det(sym.cast("double") / total_chars, 6)
    ).otherwise(F.lit(0.0))
    # Longest equal run over the SORTED bigram array: one O(n) fold
    # (the sort is O(n log n) at construction above). The previous
    # distinct-x-filter scan was O(n^2) per row — a 100k-word Gopher
    # upper-bound doc cost ~1e10 comparisons in a single task.
    top_count = F.aggregate(
        bg,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return stage2.select(
        *df.columns,
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        stop_hits.alias("stop_hits"),
        (
            (n >= 50) & (n <= 100_000)
            & (mean_len >= 3.0) & (mean_len <= 10.0)
            & (symbol_ratio <= 0.1) & (stop_hits >= 2)
        ).alias("gopher_pass"),
        F.when(n > 0, round_det(
            (n - F.size(F.array_distinct(w))).cast("double") / n, 6
        )).otherwise(F.lit(0.0)).alias("dup_word_frac"),
        F.when(
            nb > 0, round_det(top_count.cast("double") / nb, 6)
        ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
    )


def normalize_url(col: Column) -> Column:
    """Crawl-dedup URL canonicalization, regex-only (SQL-twinnable):

    1. drop the fragment (``#…``);
    2. lowercase the scheme+host prefix;
    3. drop default ports (``:80``/``:443``) — applied to the
       authority only, so ``:443/`` inside a path segment survives;
    4. strip tracking params (``utm_*``, ``fbclid``, ``gclid``),
       anchored at a ``?``/``&`` boundary so ``myfbclid=`` or
       ``xutm_foo=`` in other params survive. ``&``-position params
       are stripped outright; a ``?``-position param hands its ``?``
       to the next kept param (or disappears with it when last) —
       position-specific rules, so a query-less URL with a literal
       ``&`` in its path is never rewritten (round-3 ADVICE bug: the
       old unconditional ``&``->``?`` promotion turned
       ``http://h/a&b`` into ``http://h/a?b``);
    5. drop a trailing slash (including the bare root slash —
       http(s) treats the empty path and ``/`` as the same resource).

    Regex-only on purpose: the identical patterns run in DuckDB, so
    the oracle verifies every step (a urllib-based UDF could not be
    twinned and would be per-row Python anyway).
    """
    u = F.regexp_replace(col, r"#.*$", "")
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    u = F.concat(F.regexp_replace(F.lower(head), r":(80|443)$", ""), rest)
    u = F.regexp_replace(u, r"&(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*", "")
    u = F.regexp_replace(u, r"\?(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*&", "?")
    u = F.regexp_replace(u, r"\?(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*$", "")
    u = F.regexp_replace(u, r"[?&]+$", "")
    u = F.regexp_replace(u, r"(.)/$", "$1")
    return u


# PII patterns, shared verbatim by the DuckDB twin (keep RE2-safe:
# no lookarounds, no backrefs).
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    (r"\+?[0-9][0-9()\-\. ]{7,}[0-9]", "<PHONE>"),
]


def redact_pii(col: Column) -> Column:
    """Crawl-scale PII redaction: emails, IPv4 literals, and
    phone-like digit runs replaced by typed placeholders. Order
    matters: emails first (their local part can look phone-ish), IPs
    before the generic digit-run pattern (dotted quads are a subset
    of it), phones last. Pure regexp_replace chain (JVM-side,
    SQL-twinnable)."""
    out = col
    for pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


ROLLING_WINDOW = 8  # words per rolling fingerprint


def with_rolling_fps(df, text_col: str):
    """Staged rolling fingerprints (the scan form), as column ``fps``:
    words become a real column before the window lambda touches them,
    so normalize+split runs once per row, not once per window."""
    staged = df.select(
        "*",
        F.split(normalize_text(F.col(text_col)), " ").alias("_rw"),
    )
    w = F.col("_rw")
    n = F.size(w)
    idx = F.sequence(
        F.lit(1), F.greatest(n - F.lit(ROLLING_WINDOW - 1), F.lit(1))
    )
    fps = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(w, i, ROLLING_WINDOW)))
    )
    return staged.select(*df.columns, fps.alias("fps"))
