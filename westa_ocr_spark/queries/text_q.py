"""Text-analysis queries: language ID, quality + Gopher gates, token
stats, fingerprints, URL normalization, PII redaction,
decontamination, domain stats."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from westa_ocr_spark.functions import textfns  # noqa: F401
from westa_ocr_spark.functions.textfns import round_det  # noqa: F401
from westa_ocr_spark.queries.common import (  # noqa: F401
    _SQL_NORM, _SQL_WORDS, _sql_lang_best, _sql_lang_from_best,
    _sql_lang_scores, _sql_occ, _sql_punct_ratio, _sql_quality,
    _sql_round_det, _sql_shingles, _sql_simhash16, _sql_stop_ratio,
    _sql_token_count, _t,
)

# ---------------------------------------------------------------------------
# Text analysis (training-data pipeline)

def _q_lang_id(spark, sf):
    docs = _t(spark, sf, "documents")
    return (
        textfns.with_lang_id(docs.select("text"), "text")
        .groupBy("lang_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SQL_LANG_ID = (
    "SELECT lang_id, count(*) AS n_docs FROM ("
    f"SELECT {_sql_lang_from_best('best')} AS lang_id FROM ("
    f"SELECT {_sql_lang_best('text')} AS best FROM documents)) GROUP BY 1"
)


def _q_quality_scores(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id", textfns.quality_score(F.col("text")).alias("quality")
    )


_SQL_QUALITY_SCORES = (
    f"SELECT doc_id, {_sql_quality('text')} AS quality FROM documents"
)


def _q_token_counts(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        textfns.token_count(F.col("text")).alias("ws_tokens"),
        textfns.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


_SQL_TOKEN_COUNTS = (
    f"SELECT doc_id, {_sql_token_count('text')} AS ws_tokens, "
    "cast(len(regexp_extract_all(text, "
    "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bigint) AS bpe_tokens "
    "FROM documents"
)


def _q_fingerprints(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id", textfns.fingerprint(F.col("text")).alias("fp")
    )


_SQL_FINGERPRINTS = (
    f"SELECT doc_id, md5({_SQL_NORM.format(c='text')}) AS fp FROM documents"
)




# ---------------------------------------------------------------------------
# Gopher-style quality gate + repetition metrics (crawl filtering)

def _q_gopher_quality(spark, sf):
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return textfns.with_quality_flags(docs, "text").drop("text")


_SQL_GOPHER_WORDS = (
    "list_filter(string_split(" + _SQL_NORM.format(c="text")
    + ", ' '), w -> length(w) > 0)"
)

_SQL_GOPHER_QUALITY = (
    "WITH w AS (SELECT doc_id, text, " + _SQL_GOPHER_WORDS + " AS words "
    "FROM documents), "
    "base AS (SELECT doc_id, text, words, len(words) AS n, "
    "CASE WHEN len(words) >= 2 THEN list_transform("
    "range(1, greatest(len(words) - 1, 1) + 1), "
    "i -> array_to_string(words[i:i+1], ' ')) "
    "ELSE [] END AS bg FROM w), "
    "m AS (SELECT doc_id, text, n, bg, "
    "CASE WHEN n > 0 THEN "
    + _sql_round_det(
        "cast(length(array_to_string(words, '')) AS double) / n", 6)
    + " ELSE 0.0 END AS mean_word_len, "
    "CASE WHEN n > 0 THEN "
    + _sql_round_det(
        "cast(n - len(list_distinct(words)) AS double) / n", 6)
    + " ELSE 0.0 END AS dup_word_frac, "
    "CASE WHEN length(text) > 0 THEN "
    + _sql_round_det(
        "cast(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) "
        "AS double) / length(text)", 6)
    + " ELSE 0.0 END AS symbol_ratio, "
    "cast(" + " + ".join(
        _sql_occ("text", w) for w in textfns._LANG_STOPWORDS["en"])
    + " AS bigint) AS stop_hits FROM base) "
    "SELECT doc_id, cast(n AS bigint) AS n_words, mean_word_len, "
    "symbol_ratio, stop_hits, "
    "(n >= 50 AND n <= 100000 AND mean_word_len >= 3.0 AND "
    "mean_word_len <= 10.0 AND symbol_ratio <= 0.1 AND stop_hits >= 2) "
    "AS gopher_pass, dup_word_frac, "
    "CASE WHEN len(bg) > 0 THEN "
    + _sql_round_det(
        "cast(list_max(list_transform(list_distinct(bg), "
        "x -> len(list_filter(bg, y -> y = x)))) AS double) / len(bg)", 6)
    + " ELSE 0.0 END AS top_bigram_frac FROM m"
)



# ---------------------------------------------------------------------------
# URL canonicalization + crawl dedup by normalized URL

def _q_url_normalize(spark, sf):
    """Three deterministic variants per doc (case noise, default
    port, tracking params, trailing slash, fragment) must collapse to
    ONE normalized url each -> every group has n_variants = 3."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    host = F.concat(F.lit("site"), (F.col("doc_id") % 50).cast("string"),
                    F.lit(".example"))
    path = F.concat(F.lit("/p/"), F.col("doc_id").cast("string"))
    variants = F.array(
        F.concat(F.lit("https://"), host, path, F.lit("?id=1")),
        F.concat(F.lit("HTTPS://"), F.upper(host), F.lit(":443"),
                 path, F.lit("?id=1&utm_source=feed")),
        F.concat(F.lit("https://"), host, path, F.lit("?id=1#section")),
    )
    exploded = docs.select(
        F.explode(variants).alias("url")
    ).select(textfns.normalize_url(F.col("url")).alias("url_norm"))
    return exploded.groupBy("url_norm").agg(
        F.count(F.lit(1)).alias("n_variants")
    )


_SQL_URL_NORMALIZE = """
WITH raw AS (
  SELECT unnest([
    'https://' || host || path || '?id=1',
    'HTTPS://' || upper(host) || ':443' || path || '?id=1&utm_source=feed',
    'https://' || host || path || '?id=1#section'
  ]) AS url
  FROM (SELECT 'site' || cast(doc_id % 50 AS varchar) || '.example' AS host,
               '/p/' || cast(doc_id AS varchar) AS path
        FROM documents WHERE doc_id < 300)
), lowered AS (
  -- fragment drop, lowercase scheme+host, default-port strip
  SELECT regexp_replace(
           lower(regexp_extract(regexp_replace(url, '#.*$', ''),
             '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
           ':(80|443)$', '') ||
         regexp_replace(regexp_replace(url, '#.*$', ''),
           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS u
  FROM raw
), norm AS (
  -- position-specific tracking-param strip (mirrors
  -- textfns.normalize_url): &-params drop outright; a ?-param hands
  -- its '?' to the next kept param or vanishes when last
  SELECT regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(u, '&(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*',
                         '', 'g'),
          '\\?(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*&', '?'),
        '\\?(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*$', ''),
      '[?&]+$', ''),
    '(.)/$', '\\1') AS url_norm
  FROM lowered
)
SELECT url_norm, count(*) AS n_variants FROM norm GROUP BY 1
"""



# ---------------------------------------------------------------------------
# PII redaction (emails / IPv4 / phone-like runs -> typed placeholders)

def _q_pii_redaction(spark, sf):
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    seeded = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@mail.example.org or "),
        F.lit("+1 415 555 01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    return docs.select(
        "doc_id", textfns.redact_pii(seeded).alias("redacted")
    )


def _sql_redact(expr: str) -> str:
    out = expr
    for pat, tag in textfns.PII_PATTERNS:
        # RE2 needs the non-capturing group syntax DuckDB also accepts;
        # patterns are shared verbatim, only the escaping context differs
        sql_pat = pat.replace("'", "''").replace("\\", "\\")
        out = f"regexp_replace({out}, '{sql_pat}', '{tag}', 'g')"
    return out


_SQL_PII_REDACTION = (
    "SELECT doc_id, " + _sql_redact(
        "text || ' contact user' || cast(doc_id AS varchar) || "
        "'@mail.example.org or ' || '+1 415 555 01' || "
        "lpad(cast(doc_id % 100 AS varchar), 2, '0') || ' at 10.0.' || "
        "cast(doc_id % 256 AS varchar) || '.7'")
    + " AS redacted FROM documents WHERE doc_id < 300"
)



# ---------------------------------------------------------------------------
# Decontamination: benchmark n-gram overlap via rolling fingerprints

_PROBE_TEXT = (
    "the secret benchmark question about unicode tokens appears "
    "here exactly once verbatim"
)


def _sql_rolling_fps(expr: str) -> str:
    words = f"string_split({_SQL_NORM.format(c=expr)}, ' ')"
    k = textfns.ROLLING_WINDOW
    return (
        f"list_transform(range(1, greatest(len({words}) - {k - 1}, 1) + 1),"
        f" i -> md5(array_to_string(({words})[i:i+{k - 1}], ' ')))"
    )


def _q_decontamination(spark, sf):
    """Docs seeded with a benchmark sentence (doc_id%10==3) must be
    flagged by rolling-8-gram fingerprint overlap with the probe set;
    clean docs must not. The probe fp set is tiny and travels as a
    literal array (broadcast by closure)."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 400)
    contaminated = F.when(
        F.col("doc_id") % 10 == 3,
        F.concat(F.col("text"), F.lit(" " + _PROBE_TEXT)),
    ).otherwise(F.col("text"))
    staged = textfns.with_rolling_fps(
        docs.select("doc_id", contaminated.alias("t")), "t"
    )
    probe_fps = (
        textfns.with_rolling_fps(
            spark.range(1).select(F.lit(_PROBE_TEXT).alias("t")), "t"
        )
        .collect()[0]["fps"]
    )  # ~6 fps — bounded driver-side by construction
    hits = F.size(
        F.array_intersect(
            F.col("fps"), F.array(*[F.lit(x) for x in probe_fps])
        )
    )
    return (
        staged.select("doc_id", hits.alias("n_hits"))
        .filter(F.col("n_hits") > 0)
    )


_SQL_DECONTAMINATION = (
    "WITH probe AS (SELECT "
    + _sql_rolling_fps(f"'{_PROBE_TEXT}'")
    + " AS pfps), "
    "docs AS (SELECT doc_id, CASE WHEN doc_id % 10 = 3 THEN "
    f"text || ' {_PROBE_TEXT}' ELSE text END AS t "
    "FROM documents WHERE doc_id < 400), "
    "scored AS (SELECT doc_id, cast(len(list_intersect("
    + _sql_rolling_fps("t")
    + ", pfps)) AS int) AS n_hits FROM docs, probe) "
    "SELECT doc_id, n_hits FROM scored WHERE n_hits > 0"
)




# ---------------------------------------------------------------------------
# Crawl frontier analytics: per-domain stats with a blocklist filter

def _q_domain_stats(spark, sf):
    """Host extraction (www-stripped) + blocklist anti-filter + path
    depth stats per domain — the crawl-frontier rollup."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example/"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("a/b/")).otherwise(F.lit("")),
        F.lit("p"), F.col("doc_id").cast("string"),
    )
    blocklist = ["site13.example", "site7.example"]
    staged = docs.select(url.alias("url"), "n_chars")
    host = F.regexp_replace(
        F.regexp_extract("url", r"^[a-z]+://([^/:?#]+)", 1),
        r"^www\.", "",
    )
    path = F.regexp_replace("url", r"^[a-z]+://[^/]*", "")
    depth = F.size(F.split(path, "/")) - 2  # leading '' and the leaf
    withd = staged.select(
        host.alias("domain"), depth.alias("depth"), "n_chars"
    ).filter(~F.col("domain").isin(blocklist))
    return withd.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.max("depth").alias("max_depth"),
        F.sum("n_chars").alias("total_chars"),
    )


_SQL_DOMAIN_STATS = """
WITH src AS (
  SELECT 'https://' ||
         CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END ||
         'site' || cast(doc_id % 20 AS varchar) || '.example/' ||
         CASE WHEN doc_id % 3 = 0 THEN 'a/b/' ELSE '' END ||
         'p' || cast(doc_id AS varchar) AS url, n_chars
  FROM documents WHERE doc_id < 500
), d AS (
  SELECT regexp_replace(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1),
                        '^www\\.', '') AS domain,
         len(string_split(regexp_replace(url, '^[a-z]+://[^/]*', ''),
             '/')) - 2 AS depth,
         n_chars
  FROM src
)
SELECT domain, count(*) AS n_pages, max(depth) AS max_depth,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM d WHERE domain NOT IN ('site13.example', 'site7.example')
GROUP BY domain
"""




def _q_sequence_packing(spark, sf):
    """Training-sequence packing: assign documents to fixed-budget
    packs (2048 tokens) per language in deterministic doc_id order —
    the sequence-packing step of an LLM data pipeline, expressed as a
    running-sum window: a doc's pack is floor(cum_tokens_before /
    budget). Greedy start-offset packing (a doc may straddle its
    pack's end; exact bin packing is NP-hard and order-dependent),
    deterministic and SQL-twinnable. Emits per-pack stats."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 2000)
    toks = textfns.token_count(F.col("text"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = docs.select(
        "doc_id", "lang", toks.alias("_tok")
    ).select(
        "doc_id", "lang", "_tok",
        (F.sum("_tok").over(w) - F.col("_tok")).alias("_before"),
    )
    packed = staged.select(
        "lang",
        F.floor(F.col("_before") / 2048).cast("long").alias("pack_id"),
        "_tok",
    )
    return (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("pack_tokens"),
        )
        .orderBy("lang", "pack_id")
    )


def _q_sequence_packing_strict(spark, sf):
    """Capacity-RESPECTING greedy packing — the form real trainers
    use: a new pack opens when the current doc would overflow the
    2048-token budget (``fill + tok > budget``), so no doc straddles
    a pack boundary; an oversized doc (tok > budget) gets a pack to
    itself. The fill recurrence resets at each overflow, which no
    prefix-sum window can express, so the sequential fold runs as
    ``applyInPandas`` per language — one Arrow batch per group, a
    linear pass over (doc_id-ordered) token counts, never per-row
    Python UDF calls. Scale note: parallelism is per-language; a
    100-TB mix packs within (lang, shard) ranges independently —
    same operator keyed by an added shard column — since packs
    never need to cross shard boundaries in practice.

    Oracle: DuckDB ``WITH RECURSIVE`` replays the identical
    recurrence row-by-row per language.
    """
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 2000)
    staged = docs.select(
        "doc_id", "lang",
        textfns.token_count(F.col("text")).alias("tok"),
    )

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        pack_id, fill = 0, 0
        ids = []
        for tok in pdf["tok"]:
            t = int(tok)
            if fill > 0 and fill + t > 2048:
                pack_id += 1
                fill = t
            else:
                fill += t
            ids.append(pack_id)
        return pd.DataFrame(
            {"lang": pdf["lang"], "pack_id": ids, "tok": pdf["tok"]}
        )

    packed = staged.groupBy("lang").applyInPandas(
        pack, "lang string, pack_id long, tok long"
    )
    return (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("pack_tokens"),
        )
        .orderBy("lang", "pack_id")
    )


_SQL_SEQUENCE_PACKING_STRICT = (
    "WITH RECURSIVE base AS ("
    "SELECT lang, doc_id, " + _sql_token_count("text") + " AS tok, "
    "row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn "
    "FROM documents WHERE doc_id < 2000"
    "), packed AS ("
    "SELECT lang, rn, tok, CAST(0 AS BIGINT) AS pack_id, tok AS fill "
    "FROM base WHERE rn = 1 "
    "UNION ALL "
    "SELECT b.lang, b.rn, b.tok, "
    "CASE WHEN p.fill > 0 AND p.fill + b.tok > 2048 "
    "THEN p.pack_id + 1 ELSE p.pack_id END, "
    "CASE WHEN p.fill > 0 AND p.fill + b.tok > 2048 "
    "THEN b.tok ELSE p.fill + b.tok END "
    "FROM base b JOIN packed p ON b.lang = p.lang AND b.rn = p.rn + 1"
    ") "
    "SELECT lang, pack_id, count(*) AS n_docs, "
    "CAST(sum(tok) AS BIGINT) AS pack_tokens "
    "FROM packed GROUP BY lang, pack_id ORDER BY lang, pack_id"
)


_SQL_SEQUENCE_PACKING = (
    "SELECT lang, pack_id, count(*) AS n_docs, "
    "CAST(sum(tok) AS BIGINT) AS pack_tokens FROM ("
    "SELECT lang, cast(floor((cum - tok) / 2048) AS bigint) AS pack_id,"
    " tok FROM ("
    "SELECT lang, tok, sum(tok) OVER ("
    "PARTITION BY lang ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum "
    "FROM (SELECT doc_id, lang, " + _sql_token_count("text")
    + " AS tok FROM documents WHERE doc_id < 2000))) "
    "GROUP BY lang, pack_id ORDER BY lang, pack_id"
)



# name -> (Spark DataFrame fn, DuckDB oracle SQL or None).
DEFS = {
    "lang_id": (_q_lang_id, _SQL_LANG_ID),
    "quality_scores": (_q_quality_scores, _SQL_QUALITY_SCORES),
    "token_counts": (_q_token_counts, _SQL_TOKEN_COUNTS),
    "fingerprints": (_q_fingerprints, _SQL_FINGERPRINTS),
    "gopher_quality": (_q_gopher_quality, _SQL_GOPHER_QUALITY),
    "url_normalize": (_q_url_normalize, _SQL_URL_NORMALIZE),
    "pii_redaction": (_q_pii_redaction, _SQL_PII_REDACTION),
    "decontamination": (_q_decontamination, _SQL_DECONTAMINATION),
    "domain_stats": (_q_domain_stats, _SQL_DOMAIN_STATS),
    "sequence_packing": (_q_sequence_packing, _SQL_SEQUENCE_PACKING),
    "sequence_packing_strict": (
        _q_sequence_packing_strict, _SQL_SEQUENCE_PACKING_STRICT
    ),
}
