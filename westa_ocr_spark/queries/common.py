"""Shared helpers for the query registry: table readers and the
expression-level SQL twins (normalization, language markers, shingles)
used by more than one domain module."""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from westa_ocr_spark.functions import textfns

# ---------------------------------------------------------------------------
# helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scratch_dir(prefix: str) -> str:
    """A new, uniquely named directory under the system temp dir (so
    concurrent sweeps never share one), removed at interpreter exit:
    the lazy frame a query returns still reads it after the return."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _sql_round_det(expr: str, digits: int = 6) -> str:
    scale = float(10 ** digits)
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


# SQL twin of textfns.normalize_text
_SQL_NORM = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


def _sql_occ(col: str, needle: str) -> str:
    pad = f"(' ' || {col} || ' ')"
    return (
        f"cast((length({pad}) - length(replace({pad}, '{needle}', '')))"
        f" / {len(needle)} as bigint)"
    )


def _sql_lang_scores(col: str) -> dict[str, str]:
    """Twin of textfns.lang_scores: word-array membership counts for
    space-delimited languages, substring replace-counts for CJK."""
    out = {}
    for lang, words in textfns._LANG_STOPWORDS.items():
        if lang in textfns._CJK_LANGS:
            out[lang] = " + ".join(_sql_occ(col, w) for w in words)
        else:
            toks = ", ".join(f"'{w.strip()}'" for w in words)
            out[lang] = (
                f"cast(len(list_filter(string_split({col}, ' '), "
                f"x -> list_contains([{toks}], x))) as bigint)"
            )
    return out


def _sql_lang_best(col: str) -> str:
    """DuckDB twin of textfns.with_lang_id's argmax: list_max of
    (score, -rank) structs — lexicographic struct compare, ties to the
    alphabetically smallest language (decoded by
    :func:`_sql_lang_from_best`)."""
    scores = _sql_lang_scores(col)
    langs = sorted(scores)
    items = ", ".join(
        f"struct_pack(s := ({scores[lang]}), r := {-i})"
        for i, lang in enumerate(langs)
    )
    return f"list_max([{items}])"


def _sql_lang_from_best(best: str) -> str:
    langs = sorted(textfns._LANG_STOPWORDS)
    arr = "[" + ", ".join(f"'{lang}'" for lang in langs) + "]"
    return (
        f"case when ({best}).s > 0 then ({arr})[-(({best}).r) + 1] "
        "else 'und' end"
    )


def _sql_token_count(col: str) -> str:
    return (
        f"cast(case when length(trim({col})) = 0 then 0 else "
        f"len(string_split_regex(trim({col}), '\\s+')) end as bigint)"
    )


def _sql_stop_ratio(col: str) -> str:
    toks = _sql_token_count(col)
    stops = " + ".join(
        f"({expr})" for expr in _sql_lang_scores(col).values()
    )
    return (
        f"case when ({toks}) = 0 then 0.0 else "
        f"cast(({stops}) as double) / cast(({toks}) as double) end"
    )


def _sql_punct_ratio(col: str) -> str:
    return (
        f"case when length({col}) = 0 then 0.0 else "
        f"cast(length(regexp_replace({col}, '[^\\.,;:!\\?]', '', 'g')) "
        f"as double) / length({col}) end"
    )


def _sql_quality(col: str) -> str:
    length_f = f"least(length({col}) / 500.0, 1.0)"
    stop_f = f"least(({_sql_stop_ratio(col)}) / 0.2, 1.0)"
    punct_f = (
        f"greatest(0.0, 1.0 - greatest(0.0, ({_sql_punct_ratio(col)}) - 0.1)"
        " * 5.0)"
    )
    return _sql_round_det(f"0.4 * {length_f} + 0.3 * {stop_f} + 0.3 * {punct_f}", 6)


# SQL twin of dedup._shingles (k=3)
_SQL_WORDS = f"string_split({_SQL_NORM}, ' ')"


def _sql_shingles(col: str) -> str:
    """3-word shingles, the twin of dedup's Spark shingles."""
    words = _SQL_WORDS.format(c=col)
    return (
        f"list_transform(range(1, greatest(len({words}) - 2, 1) + 1),"
        f" i -> array_to_string(({words})[i:i+2], ' '))"
    )


def _sql_simhash64_query(source_sql: str) -> str:
    """DuckDB twin of dedup.simhash64 (round 5, VERDICT r4 #4), as a
    full SELECT over ``source_sql``'s ``(doc_id, text)``: per word,
    the first 8 md5 digest bytes big-endian as a UBIGINT (= first 16
    hex chars); per bit, +1/-1 votes; the 64-bit majority mask
    sign-wrapped to BIGINT. Integer bit ops throughout (pow()/floor()
    double arithmetic loses bits >52), and the word-hash list is
    staged in a CTE so the md5 work appears once, not once per bit
    term."""
    words = (
        f"list_filter(string_split({_SQL_NORM.format(c='text')}, ' '),"
        " w -> length(w) > 0)"
    )
    hashes = (
        f"list_transform({words}, w ->"
        " cast(concat('0x', substring(md5(w), 1, 16)) AS UBIGINT))"
    )
    terms = []
    for bit in range(64):
        votes = (
            "list_sum(list_transform(hashes, h -> CASE WHEN"
            f" (h >> {bit}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(
            f"CASE WHEN coalesce({votes}, 0) > 0"
            f" THEN cast('{2 ** bit}' AS HUGEINT)"
            " ELSE cast(0 AS HUGEINT) END"
        )
    raw = " + ".join(terms)
    return (
        f"WITH _sh64_src AS ({source_sql}), "
        f"_sh64_h AS (SELECT doc_id, {hashes} AS hashes FROM _sh64_src) "
        "SELECT doc_id, cast(CASE WHEN raw >="
        f" cast('{2 ** 63}' AS HUGEINT)"
        f" THEN raw - cast('{2 ** 64}' AS HUGEINT)"
        " ELSE raw END AS BIGINT) AS simhash64 "
        f"FROM (SELECT doc_id, {raw} AS raw FROM _sh64_h)"
    )


def _sql_simhash16(col: str) -> str:
    words = (
        f"list_filter(string_split({_SQL_NORM.format(c=col)}, ' '),"
        " w -> length(w) > 0)"
    )
    hashes = (
        f"list_transform({words}, w -> ascii(substring(md5(w), 1, 1)) * 256"
        " + ascii(substring(md5(w), 2, 1)))"
    )
    terms = []
    for bit in range(16):
        votes = (
            f"list_sum(list_transform({hashes}, h -> case when "
            f"cast(floor(h / pow(2, {bit})) as bigint) % 2 = 1 "
            "then 1 else -1 end))"
        )
        terms.append(f"case when ({votes}) > 0 then {2 ** bit} else 0 end")
    return f"cast({' + '.join(terms)} as bigint)"



