"""Reference-operator queries (SURVEY.md §2.2-§2.7): filters,
joins, aggregations, windows, scalar functions, structured parse, and
the generated-corpus extraction/split/WARC jobs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from westa_ocr_spark.functions import textfns  # noqa: F401
from westa_ocr_spark.functions.textfns import round_det  # noqa: F401
from westa_ocr_spark.queries.common import (  # noqa: F401
    _SQL_NORM, _SQL_WORDS, _sql_lang_best, _sql_lang_from_best,
    _sql_lang_scores, _sql_occ, _sql_punct_ratio, _sql_quality,
    _sql_round_det, _sql_shingles, _sql_simhash16, _sql_stop_ratio,
    _sql_token_count, _scratch_dir, _t,
)

from westa_ocr_spark.operators.parse_details import parse_detail_rows  # noqa: F401
# ---------------------------------------------------------------------------
# SURVEY §2.2 filters / projections

def _q_filter_pending(spark, sf):
    # F1/F2: pending-status predicate (IN-list filter)
    return (
        _t(spark, sf, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .select("event_id", "user_id", "event_type")
    )


_SQL_FILTER_PENDING = (
    "SELECT event_id, user_id, event_type FROM events "
    "WHERE event_type IN ('signup', 'purchase')"
)


def _q_filter_errors(spark, sf):
    # F3: error-rows filter + projection
    return (
        _t(spark, sf, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id",
                round_det(F.col("value"), 6).alias("value"))
    )


_SQL_FILTER_ERRORS = (
    "SELECT event_id, user_id, " + _sql_round_det("value", 6) + " AS value FROM events "
    "WHERE event_type = 'error'"
)


def _q_filter_nonempty(spark, sf):
    # F4: non-empty text predicate, aggregated per lang
    return (
        _t(spark, sf, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SQL_FILTER_NONEMPTY = (
    "SELECT lang, count(*) AS n_docs FROM documents "
    "WHERE length(trim(text)) > 0 GROUP BY lang"
)


def _q_filter_min_columns(spark, sf):
    # F5: >=15-column predicate over whitespace-split docs
    return (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_cols"),
        )
        .filter(F.col("n_cols") >= 15)
    )


_SQL_FILTER_MIN_COLUMNS = (
    "SELECT doc_id, len(string_split(text, ' ')) AS n_cols FROM documents "
    "WHERE len(string_split(text, ' ')) >= 15"
)


def _q_project_rename(spark, sf):
    # F7/F8/F9: select + rename projection
    return _t(spark, sf, "documents").select(
        F.col("doc_id").alias("id"),
        F.col("lang").alias("language"),
        F.col("n_chars").alias("size_chars"),
    )


_SQL_PROJECT_RENAME = (
    "SELECT doc_id AS id, lang AS language, n_chars AS size_chars "
    "FROM documents"
)


# ---------------------------------------------------------------------------
# SURVEY §2.3 joins

def _q_join_assembly(spark, sf):
    # J1: 1:N assembly — orders left-joined to lineitem counters
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("l_quantity").alias("sum_qty"),  # whole numbers: exact
    )
    return (
        orders.join(agg, orders.o_orderkey == agg.l_orderkey, "left")
        .select(
            "o_orderkey",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("sum_qty", F.lit(0.0)).alias("sum_qty"),
        )
    )


_SQL_JOIN_ASSEMBLY = (
    "SELECT o_orderkey, coalesce(a.n_lines, 0) AS n_lines, "
    "coalesce(a.sum_qty, 0.0) AS sum_qty FROM orders o LEFT JOIN ("
    "SELECT l_orderkey, count(*) AS n_lines, sum(l_quantity) AS sum_qty "
    "FROM lineitem GROUP BY l_orderkey) a ON o.o_orderkey = a.l_orderkey"
)


def _q_join_broadcast(spark, sf):
    # J2: broadcast small dim into fact scan
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


_SQL_JOIN_BROADCAST = (
    "SELECT p_brand, count(*) AS n_items, sum(l_quantity) AS sum_qty "
    "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand"
)


def _q_resume_anti_join(spark, sf):
    # J4: checkpointed-resume anti-join — all work minus finished work
    # (customers with no order since mid-1998). The recency filter
    # keeps the result non-degenerate at every sf tier: the unfiltered
    # form matched zero rows at sf0.01, which the driver compare
    # passes trivially (the r3 exact_dedup lesson).
    cust = _t(spark, sf, "customer")
    done = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") >= "1998-06-01"
    )
    return cust.join(
        done.select("o_custkey").distinct(),
        cust.c_custkey == F.col("o_custkey"),
        "left_anti",
    ).select("c_custkey", "c_name")


_SQL_RESUME_ANTI_JOIN = (
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS ("
    "SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderdate >= timestamp '1998-06-01 00:00:00')"
)


def _q_semi_join(spark, sf):
    # J5: idempotency semi-join (customers having orders), per segment
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    return (
        cust.join(
            orders.select("o_custkey").distinct(),
            cust.c_custkey == F.col("o_custkey"),
            "left_semi",
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


_SQL_SEMI_JOIN = (
    "SELECT c_mktsegment, count(*) AS n_customers FROM customer c "
    "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) "
    "GROUP BY c_mktsegment"
)


# ---------------------------------------------------------------------------
# SURVEY §2.4 aggregations

def _q_manifest_counters(spark, sf):
    # A1-A6: per-key counters, skipped derivation, status synthesis,
    # '; '-joined error concat (deterministic lexical order)
    ev = _t(spark, sf, "events")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        F.array_join(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("event_type") == "error",
                        F.concat(F.lit("evt_"), F.col("event_id")),
                    )
                )
            ),
            "; ",
        ).alias("last_error"),
    )
    return agg.select(
        "user_id",
        "total_events",
        (F.col("total_events") - F.col("n_errors")).alias("processed"),
        F.greatest(F.lit(0), F.col("n_errors")).alias("skipped"),
        F.when(F.col("n_errors") > 0, F.lit("ERROR"))
        .otherwise(F.lit("DONE"))
        .alias("status"),
        "last_error",
    )


_SQL_MANIFEST_COUNTERS = (
    "SELECT user_id, count(*) AS total_events, "
    "count(*) - count(CASE WHEN event_type = 'error' THEN 1 END) "
    "AS processed, "
    "greatest(0, count(CASE WHEN event_type = 'error' THEN 1 END)) "
    "AS skipped, "
    "CASE WHEN count(CASE WHEN event_type = 'error' THEN 1 END) > 0 "
    "THEN 'ERROR' ELSE 'DONE' END AS status, "
    "coalesce(string_agg(CASE WHEN event_type = 'error' THEN "
    "'evt_' || event_id END, '; ' ORDER BY "
    "CASE WHEN event_type = 'error' THEN 'evt_' || event_id END), '') "
    "AS last_error "
    "FROM events GROUP BY user_id"
)


def _q_count_totals(spark, sf):
    # A5: global counters + distinct
    return _t(spark, sf, "events").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


_SQL_COUNT_TOTALS = (
    "SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users, "
    "count(DISTINCT event_type) AS n_types FROM events"
)


def _q_status_rollup(spark, sf):
    # per-type stats with exact-safe aggregation
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_det(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


_SQL_STATUS_ROLLUP = (
    "SELECT event_type, count(*) AS n, "
    + _sql_round_det(
        "cast(sum(cast(value AS decimal(18,2))) AS double) / count(*)", 6)
    + " AS avg_value, min(ts) AS first_ts, max(ts) AS last_ts "
    "FROM events GROUP BY event_type"
)


# ---------------------------------------------------------------------------
# SURVEY §2.5 windows / ordering / limits

def _q_page_numbering(spark, sf):
    # W1: 1-based numbering within a document/order
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 100)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).cast("long").alias("page_index"),
    )


_SQL_PAGE_NUMBERING = (
    "SELECT l_orderkey, l_linenumber, row_number() OVER ("
    "PARTITION BY l_orderkey ORDER BY l_linenumber) AS page_index "
    "FROM lineitem WHERE l_orderkey < 100"
)


def _q_recent_topk(spark, sf):
    # W3/W6: recent-first + limit (total order via tiebreak)
    return (
        _t(spark, sf, "events")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .select("event_id", "ts", "event_type")
        .limit(50)
    )


_SQL_RECENT_TOPK = (
    "SELECT event_id, ts, event_type FROM events "
    "ORDER BY ts DESC, event_id DESC LIMIT 50"
)


def _q_ring_buffer_topk(spark, sf):
    # W5: top-K per key (ring-buffer semantics)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        _t(spark, sf, "events")
        .select(
            "user_id", "event_id",
            F.row_number().over(w).cast("long").alias("rn")
        )
        .filter(F.col("rn") <= 3)
    )


_SQL_RING_BUFFER_TOPK = (
    "SELECT user_id, event_id, rn FROM (SELECT user_id, event_id, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, "
    "event_id DESC) AS rn FROM events) WHERE rn <= 3"
)


def _q_pagination_count(spark, sf):
    # W7: ceil(total / page_size)
    return _t(spark, sf, "events").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(100.0)).cast("long").alias("n_pages")
    )


_SQL_PAGINATION_COUNT = (
    "SELECT cast(ceil(count(*) / 100.0) AS bigint) AS n_pages FROM events"
)


# ---------------------------------------------------------------------------
# SURVEY §2.6 scalar / string / date functions

def _q_regex_header_extract(spark, sf):
    # X3/X4/X6 over a synthesized protocol page (semantics of the
    # reference's header regexes, deterministic by construction)
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    page = F.concat(
        F.lit("【得意先】"),
        F.col("source"),
        F.lit("\n【受注日】2025-01-15\n【注文明細】\n"),
        F.col("text"),
    )
    return docs.select(
        "doc_id",
        F.trim(F.regexp_extract(page, "【得意先】([^\n【]*)", 1)).alias(
            "tokusaki"
        ),
        F.trim(F.regexp_extract(page, "【受注日】([^\n【]*)", 1)).alias(
            "juchu_date"
        ),
        F.regexp_extract(page, "(?s)【注文明細】(.*)", 1).alias("detail"),
    )


_SQL_REGEX_HEADER_EXTRACT = (
    "SELECT doc_id, "
    "trim(regexp_extract(page, '【得意先】([^\n【]*)', 1)) AS tokusaki, "
    "trim(regexp_extract(page, '【受注日】([^\n【]*)', 1)) AS juchu_date, "
    "regexp_extract(page, '(?s)【注文明細】(.*)', 1) AS detail FROM ("
    "SELECT doc_id, '【得意先】' || source || "
    "'\n【受注日】2025-01-15\n【注文明細】\n' || text AS page "
    "FROM documents WHERE doc_id < 500)"
)


def _q_split_pages_explode(spark, sf):
    # X1/D5: page-delimiter split + blank drop + renumber
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    raw = F.concat(
        F.lit("--- PAGE 1 ---\n"),
        F.col("text"),
        F.lit("\n--- PAGE 2 ---\n"),
        F.col("source"),
        F.lit("\n--- PAGE 3 ---\n   \n"),  # blank page -> dropped
    )
    blocks = F.filter(
        F.split(raw, "--- PAGE [0-9]+ ---"),
        lambda x: F.length(F.trim(x)) > 0,
    )
    return docs.select(
        "doc_id", F.posexplode(blocks).alias("pos", "block")
    ).select(
        "doc_id",
        (F.col("pos") + 1).cast("long").alias("page_no"),
        F.trim("block").alias("block"),
    )


_SQL_SPLIT_PAGES_EXPLODE = (
    "SELECT doc_id, i AS page_no, trim(b) AS block FROM ("
    "SELECT doc_id, unnest(blocks) AS b, "
    "generate_subscripts(blocks, 1) AS i FROM ("
    "SELECT doc_id, list_filter(string_split_regex("
    "'--- PAGE 1 ---' || chr(10) || text || chr(10) || "
    "'--- PAGE 2 ---' || chr(10) || source || chr(10) || "
    "'--- PAGE 3 ---' || chr(10) || '   ' || chr(10), "
    "'--- PAGE [0-9]+ ---'), x -> length(trim(x)) > 0) AS blocks "
    "FROM documents WHERE doc_id < 200))"
)


def _q_csv_detail_parse(spark, sf):
    # X5/F5: CSV split + trim + positional mapping, >=15 columns kept
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    cells = F.transform(
        F.split(F.regexp_replace("text", " ", ","), ","), F.trim
    )
    return (
        docs.select("doc_id", cells.alias("cells"))
        .filter(F.size("cells") >= 15)
        .select(
            "doc_id",
            F.size("cells").cast("long").alias("n_fields"),
            F.element_at("cells", 1).alias("order_slip_no"),
            F.element_at("cells", 2).alias("delivery_place"),
            F.element_at("cells", 15).alias("order_note"),
        )
    )


_SQL_CSV_DETAIL_PARSE = (
    "SELECT doc_id, len(cells) AS n_fields, cells[1] AS order_slip_no, "
    "cells[2] AS delivery_place, cells[15] AS order_note FROM "
    "(SELECT doc_id, "
    "list_transform(string_split(regexp_replace(text, ' ', ',', 'g'), ','),"
    " x -> trim(x)) AS cells FROM documents WHERE doc_id < 300) "
    "WHERE len(cells) >= 15"
)


def _q_token_mask(spark, sf):
    # X10: token masking (prefix…suffix, full mask when short)
    docs = _t(spark, sf, "documents")
    src = F.col("source")
    return docs.select(
        "doc_id",
        F.when(F.length(src) <= 4, F.lit("****"))
        .otherwise(
            F.concat(
                F.substring(src, 1, 4), F.lit("…"), F.substring(src, -2, 2)
            )
        )
        .alias("masked"),
    )


_SQL_TOKEN_MASK = (
    "SELECT doc_id, CASE WHEN length(source) <= 4 THEN '****' ELSE "
    "substring(source, 1, 4) || '…' || substring(source, -2, 2) END "
    "AS masked FROM documents"
)


def _q_ts_format(spark, sf):
    # X15: UTC -> JST formatting (fixed +9, no DST)
    ev = _t(spark, sf, "events")
    return (
        ev.select(
            F.date_format(
                F.from_utc_timestamp("ts", "Asia/Tokyo"), "yyyyMMdd"
            ).alias("ymd_jst")
        )
        .groupBy("ymd_jst")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SQL_TS_FORMAT = (
    "SELECT strftime(ts + INTERVAL 9 HOUR, '%Y%m%d') AS ymd_jst, "
    "count(*) AS n FROM events GROUP BY 1"
)


def _q_deterministic_ids(spark, sf):
    # X11/X12: content-derived deterministic ids (sha256 prefix)
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.substring(
            F.sha2(F.concat(F.lit("doc:"), F.col("doc_id").cast("string")),
                   256),
            1,
            16,
        ).alias("det_id"),
    )


_SQL_DETERMINISTIC_IDS = (
    "SELECT doc_id, substring(sha256('doc:' || cast(doc_id AS varchar)), "
    "1, 16) AS det_id FROM documents"
)


def _q_props_extract(spark, sf):
    # X14: nested-field decode (regex-based for engine parity)
    ev = _t(spark, sf, "events")
    k = F.regexp_extract("props", '"k": ([0-9]+)', 1).cast("long")
    return (
        ev.select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SQL_PROPS_EXTRACT = (
    "SELECT cast(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS bigint) "
    "AS k, count(*) AS n FROM events GROUP BY 1"
)


# ---------------------------------------------------------------------------
# SURVEY §2.7 D5: structured multi-page parse (full composition)

def _q_parse_details(spark, sf):
    docs = _t(spark, sf, "documents").filter(
        (F.col("doc_id") < 200)
        & (F.size(F.split("text", " ")) >= 15)
    )
    words = F.split("text", " ")
    csvline = F.concat_ws(",", F.slice(words, 1, 15))
    raw = F.concat(
        F.lit("--- PAGE 1 ---\n【得意先】"),
        F.col("source"),
        F.lit("\n【受注日】2025-01-15\n【注文明細】\n"),
        csvline,
        F.lit("\n--- PAGE 2 ---\nこのページは注文書ではありません。"),
    )
    return parse_detail_rows(
        docs.select("doc_id", raw.alias("raw")), "doc_id", "raw"
    )


_SQL_PARSE_DETAILS = """
WITH src AS (
  SELECT doc_id,
         '--- PAGE 1 ---' || chr(10) || '【得意先】' || source || chr(10) ||
         '【受注日】2025-01-15' || chr(10) || '【注文明細】' || chr(10) ||
         array_to_string((string_split(text, ' '))[1:15], ',') || chr(10) ||
         '--- PAGE 2 ---' || chr(10) ||
         'このページは注文書ではありません。' AS raw
  FROM documents
  WHERE doc_id < 200 AND len(string_split(text, ' ')) >= 15
), pages AS (
  SELECT doc_id, cast(i AS int) AS page_no, pg,
         contains(pg, 'このページは注文書ではありません。')
           AS is_non_order,
         trim(regexp_extract(pg, '【得意先】([^' || chr(10) ||
           '【]*)', 1)) AS tokusaki,
         trim(regexp_extract(pg, '【受注日】([^' || chr(10) ||
           '【]*)', 1)) AS juchu_date,
         trim(regexp_extract(pg, '【得意先注文番号】([^' || chr(10) ||
           '【]*)', 1)) AS chumon_bango,
         regexp_extract(pg, '(?s)【注文明細】(.*)', 1) AS detail
  FROM (
    SELECT doc_id, unnest(blocks) AS pg,
           generate_subscripts(blocks, 1) AS i
    FROM (
      SELECT doc_id, list_filter(
        string_split_regex(raw, '--- PAGE [0-9]+ ---'),
        x -> length(trim(x)) > 0) AS blocks
      FROM src))
), lines AS (
  SELECT doc_id, page_no, is_non_order, tokusaki, juchu_date,
         chumon_bango, cast(j AS int) AS row_no,
         list_transform(string_split(ln, ','), x -> trim(x)) AS cells
  FROM (
    SELECT *, unnest(dlines) AS ln, generate_subscripts(dlines, 1) AS j
    FROM (
      SELECT *, list_filter(string_split(detail, chr(10)),
        x -> length(trim(x)) > 0) AS dlines
      FROM pages))
)
SELECT doc_id AS id, page_no, is_non_order, tokusaki, juchu_date,
       chumon_bango, row_no, cast(len(cells) AS int) AS n_fields,
       cells[1] AS order_slip_no, cells[2] AS delivery_place,
       cells[3] AS customer, cells[4] AS customer_order_no,
       cells[5] AS order_date, cells[6] AS ship_date,
       cells[7] AS customer_due_date, cells[8] AS customer_item_code,
       cells[9] AS item_code, cells[10] AS product_name,
       cells[11] AS quantity, cells[12] AS unit,
       cells[13] AS unit_price, cells[14] AS delivery_note,
       cells[15] AS order_note
FROM lines WHERE len(cells) >= 15
"""




# ---------------------------------------------------------------------------
# Extraction pipeline as a query. Round 5: value-oracled against the
# pinned golden fixture (tests/fixtures/extract_expected.json, written
# by scripts/gen_fixtures.py) loaded into DuckDB — the same frozen
# expectations the byte-identity pytest gate uses, so the driver now
# verifies extraction VALUES, not just row counts (VERDICT r4 #4).


def _extract_fixture_path() -> str:
    import os

    return os.path.abspath(
        os.path.join(
            os.path.dirname(__file__), "..", "..", "tests", "fixtures",
            "extract_expected.json",
        )
    )


def _staged_corpus_path(n: int = 200) -> str:
    """Version-keyed corpus cache with atomic publication: built in a
    uuid temp dir and os.rename'd into place, so a concurrent sweep
    either sees the complete directory or builds its own — never a
    half-written parquet (same hygiene class as VERDICT r4 #9)."""
    import os
    import shutil
    import tempfile
    import uuid

    from westa_ocr_spark.corpus import CORPUS_VERSION, write_pages_parquet

    path = tempfile.gettempdir() + f"/westa_q_pages_v{CORPUS_VERSION}_{n}"
    if os.path.isdir(path):
        return path
    stage = f"{path}.build_{uuid.uuid4().hex[:8]}"
    write_pages_parquet(stage, n=n, seed=42)
    try:
        os.rename(stage, path)
    except OSError:  # lost the publication race: identical content
        shutil.rmtree(stage, ignore_errors=True)
    return path


def _q_extract_pages(spark, sf):
    from westa_ocr_spark.operators.extract import extract_pages

    out = extract_pages(spark.read.parquet(_staged_corpus_path(200)))
    return out.select(
        "url", "page_index", "status", "kind", "n_blocks",
        F.length("text").alias("text_chars"),
        F.sha2(F.col("text").cast("binary"), 256).alias("text_sha256"),
    )


_SQL_EXTRACT_PAGES = f"""
SELECT url, page_index, status, kind, n_blocks, text_chars, text_sha256
FROM read_json('{_extract_fixture_path()}')
"""


def _q_charset_extract(spark, sf):
    """Charset-decode coverage (round 5): every corpus doc with a
    non-trivial charset declaration (meta / http-equiv / UTF-16 BOM;
    cp1252, cp932, cp949, gbk, utf-16-le planes) extracts to exactly
    the pinned fixture text — i.e. non-UTF-8 crawl pages yield
    content instead of ERROR rows."""
    from westa_ocr_spark.corpus import charset_for, kind_for, url_for
    from westa_ocr_spark.operators.extract import extract_pages

    path = _staged_corpus_path(200)
    cs_rows = [
        (url_for(i), charset_for(i)[0], charset_for(i)[2])
        for i in range(200)
        if kind_for(i) in ("html", "oversized")
        and not (
            charset_for(i)[0] == "plain" and charset_for(i)[2] == "utf-8"
        )  # keep the UNDECLARED cp1252 last-resort leg in scope
    ]
    cs = spark.createDataFrame(
        cs_rows, "url string, charset_mode string, charset_codec string"
    )
    out = extract_pages(spark.read.parquet(path))
    return out.join(F.broadcast(cs), "url").select(
        "url", "charset_mode", "charset_codec", "status", "n_blocks",
        F.sha2(F.col("text").cast("binary"), 256).alias("text_sha256"),
    )


_SQL_CHARSET_EXTRACT = f"""
SELECT url, charset_mode, charset_codec, status, n_blocks, text_sha256
FROM read_json('{_extract_fixture_path()}')
WHERE charset_mode IS NOT NULL
  AND NOT (charset_mode = 'plain' AND charset_codec = 'utf-8')
"""


def _q_curation_pipeline(spark, sf):
    """End-to-end training-data CURATION composition, value-verified
    (round 5): raw crawl bytes -> charset-aware extraction -> language
    ID + quality + token profiling -> exact dedup -> per-language
    corpus stats. A deterministic re-crawl slice (md5(url) prefix
    < '4') is unioned in so the dedup stage is non-degenerate; the
    DuckDB oracle recomputes every stage from the pinned fixture's
    extracted TEXT, so extraction, profiling and dedup are all
    checked by value in one row."""
    from westa_ocr_spark.functions import textfns
    from westa_ocr_spark.operators.extract import extract_pages

    pages = extract_pages(spark.read.parquet(_staged_corpus_path(200)))
    docs = pages.filter(
        (F.col("status") == "DONE") & (F.col("kind") == "html")
    ).select("url", "text")
    recrawl = docs.filter(F.substring(F.md5("url"), 1, 1) < F.lit("4"))
    src = docs.unionByName(recrawl).select("text")
    profiled = textfns.with_lang_id(src, "text").select(
        "lang_id",
        textfns.quality_score(F.col("text")).alias("quality"),
        textfns.token_count(F.col("text")).alias("ws_tokens"),
        textfns.fingerprint(F.col("text")).alias("fp"),
    )
    # duplicate rows are identical in every column (same text), so
    # the fp-dedup is deterministic
    deduped = profiled.dropDuplicates(["fp"])
    return deduped.groupBy("lang_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_tokens"),
        round_det(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
    )


def _sql_curation_pipeline() -> str:
    from westa_ocr_spark.queries.common import (
        _SQL_NORM,
        _sql_lang_best,
        _sql_lang_from_best,
        _sql_quality,
        _sql_round_det,
        _sql_token_count,
    )

    return f"""
WITH ex AS (
  SELECT url, text FROM read_json('{_extract_fixture_path()}')
  WHERE status = 'DONE' AND kind = 'html'
),
src AS (
  SELECT text FROM ex
  UNION ALL
  SELECT text FROM ex WHERE substring(md5(url), 1, 1) < '4'
),
best AS (
  SELECT text, {_sql_lang_best('text')} AS best FROM src
),
p AS (
  SELECT {_sql_lang_from_best('best')} AS lang_id,
         {_sql_quality('text')} AS quality,
         {_sql_token_count('text')} AS ws_tokens,
         md5({_SQL_NORM.format(c='text')}) AS fp
  FROM best
),
d AS (SELECT DISTINCT fp, lang_id, quality, ws_tokens FROM p)
SELECT lang_id, count(*) AS n_docs,
       cast(sum(ws_tokens) AS BIGINT) AS total_tokens,
       {_sql_round_det(
           'cast(sum(cast(quality AS DECIMAL(18,6))) AS double)'
           ' / count(*)', 6)} AS avg_quality
FROM d GROUP BY lang_id
"""




# ---------------------------------------------------------------------------
# Coverage batch 2: remaining §2 scalar ops + extended analytics

def _q_drive_id_normalize(spark, sf):
    # S4: drive-id normalization — strip scheme prefix, validate
    # ^[A-Za-z0-9_-]{10,}$ (reference regex:
    # /root/reference/app/file_fetcher.py:22,71-81)
    docs = _t(spark, sf, "documents")
    raw = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("drive://"))
        .when(F.col("doc_id") % 3 == 1, F.lit("drive:"))
        .otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0, F.substring(F.md5("text"), 1, 4)
        ).otherwise(F.md5("text")),  # short ids are invalid
    )
    norm = F.regexp_replace(raw, "^drive:(//)?", "")
    return docs.select(
        "doc_id",
        F.when(
            norm.rlike("^[A-Za-z0-9_-]{10,}$"), norm
        ).alias("drive_id"),
    )


_SQL_DRIVE_ID_NORMALIZE = (
    "SELECT doc_id, CASE WHEN regexp_matches(norm, '^[A-Za-z0-9_-]{10,}$')"
    " THEN norm END AS drive_id FROM (SELECT doc_id, "
    "regexp_replace(CASE WHEN doc_id % 3 = 0 THEN 'drive://' "
    "WHEN doc_id % 3 = 1 THEN 'drive:' ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN substring(md5(text), 1, 4) "
    "ELSE md5(text) END, '^drive:(//)?', '') AS norm FROM documents)"
)


def _q_prompt_assembly(spark, sf):
    # X6 date templating + X7 masters concat (null-skipping) + X9
    # preview + X13 CSV quoting + X16 error prefix + X17 key coalesce
    docs = _t(spark, sf, "documents")
    prompt = F.regexp_replace(
        F.lit("extract on {current_date} please"),
        r"\{current_date\}",
        F.date_format(F.lit("2025-01-15").cast("timestamp"), "yyyyMMdd"),
    )
    ship_csv = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit('"'),
                 F.regexp_replace(F.col("source"), '"', '""'),
                 F.lit('"')),
    )  # null for odd ids -> concat_ws skips
    full = F.concat_ws("\n\n", prompt, ship_csv, F.col("lang"))
    return docs.select(
        "doc_id",
        F.translate(F.substring(full, 1, 200), "\n", " ").alias(
            "prompt_preview"
        ),
        F.concat_ws(": ", F.lit("extract"), F.col("lang")).alias(
            "error_label"
        ),
        F.coalesce(
            F.when(F.col("doc_id") % 7 == 0, F.col("source")),
            F.concat_ws(":", F.col("doc_id"), F.lit("1")),
        ).alias("idempotency_key"),
    )


_SQL_PROMPT_ASSEMBLY = (
    "SELECT doc_id, replace(substring(assembled, 1, 200), chr(10), ' ') "
    "AS prompt_preview, 'extract: ' || lang AS error_label, "
    "coalesce(CASE WHEN doc_id % 7 = 0 THEN source END, "
    "doc_id || ':1') AS idempotency_key FROM (SELECT *, "
    "concat_ws(chr(10) || chr(10), "
    "replace('extract on {current_date} please', '{current_date}', "
    "strftime(timestamp '2025-01-15 00:00:00', '%Y%m%d')), "
    "CASE WHEN doc_id % 2 = 0 THEN "
    "'\"' || replace(source, '\"', '\"\"') || '\"' END, lang) AS assembled "
    "FROM documents)"
)


def _q_base64_roundtrip(spark, sf):
    # X8: base64 encode/decode of payload bytes
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    # Spark's base64 MIME-chunks with \r\n every 76 chars; strip to
    # the canonical unchunked form (DuckDB's output)
    enc = F.regexp_replace(
        F.base64(F.col("text").cast("binary")), "[\\r\\n]", ""
    )
    return docs.select(
        "doc_id",
        enc.alias("b64"),
        F.unbase64(enc).cast("string").alias("roundtrip"),
    )


_SQL_BASE64_ROUNDTRIP = (
    "SELECT doc_id, to_base64(encode(text)) AS b64, "
    "decode(from_base64(to_base64(encode(text)))) AS roundtrip "
    "FROM documents WHERE doc_id < 200"
)




def _q_split_pdf_payloads(spark, sf):
    # Round 5: value-oracled (was rows-only) against the pinned
    # fixture — split_pdf's standalone 1-page payloads are
    # deterministic bytes, so size AND sha256 are DuckDB-checkable.
    from westa_ocr_spark.operators.split_pdf import split_pdf_payloads

    pages = spark.read.parquet(_staged_corpus_path(200)).filter(
        F.hex(F.substring("html", 1, 5)) == "255044462D"
    )
    out = split_pdf_payloads(pages)
    return out.select(
        "url", "page_index", "mime_type", "status",
        F.octet_length("data").alias("payload_bytes"),
        F.sha2(F.col("data"), 256).alias("payload_sha256"),
    )


def _split_fixture_path() -> str:
    import os

    return os.path.abspath(
        os.path.join(
            os.path.dirname(__file__), "..", "..", "tests", "fixtures",
            "split_expected.json",
        )
    )


_SQL_SPLIT_PDF_PAYLOADS = f"""
SELECT url, page_index, mime_type, status, payload_bytes, payload_sha256
FROM read_json('{_split_fixture_path()}')
"""



# ---------------------------------------------------------------------------
# Page-grain parse (reference pageResult shape: header-only pages kept)

def _q_parse_pages(spark, sf):
    from westa_ocr_spark.operators.parse_details import parse_pages

    docs = _t(spark, sf, "documents").filter(
        (F.col("doc_id") < 200)
        & (F.size(F.split("text", " ")) >= 15)
    )
    words = F.split("text", " ")
    csvline = F.concat_ws(",", F.slice(words, 1, 15))
    short = F.concat_ws(",", F.slice(words, 1, 5))
    raw = F.concat(
        F.lit("--- PAGE 1 ---\n【得意先】"),
        F.col("source"),
        F.lit("\n【受注日】2025-01-15\n【注文明細】\n"),
        csvline,
        F.lit("\n--- PAGE 2 ---\nこのページは注文書ではありません。"),
        # header-only page: header present, detail rows all <15 cols —
        # parse_detail_rows drops it, parse_pages must RETAIN it
        F.lit("\n--- PAGE 3 ---\n【得意先注文番号】A-77\n【注文明細】\n"),
        short,
    )
    return parse_pages(
        docs.select("doc_id", raw.alias("raw")), "doc_id", "raw"
    )


_SQL_PARSE_PAGES = """
WITH src AS (
  SELECT doc_id,
         '--- PAGE 1 ---' || chr(10) || '【得意先】' || source || chr(10) ||
         '【受注日】2025-01-15' || chr(10) || '【注文明細】' || chr(10) ||
         array_to_string((string_split(text, ' '))[1:15], ',') || chr(10) ||
         '--- PAGE 2 ---' || chr(10) ||
         'このページは注文書ではありません。' || chr(10) ||
         '--- PAGE 3 ---' || chr(10) || '【得意先注文番号】A-77' ||
         chr(10) || '【注文明細】' || chr(10) ||
         array_to_string((string_split(text, ' '))[1:5], ',') AS raw
  FROM documents
  WHERE doc_id < 200 AND len(string_split(text, ' ')) >= 15
)
SELECT doc_id AS id, cast(i AS int) AS page_no,
       contains(pg, 'このページは注文書ではありません。') AS is_non_order,
       trim(regexp_extract(pg, '【得意先】([^' || chr(10) || '【]*)', 1))
         AS tokusaki,
       trim(regexp_extract(pg, '【受注日】([^' || chr(10) || '【]*)', 1))
         AS juchu_date,
       trim(regexp_extract(pg, '【得意先注文番号】([^' || chr(10) ||
         '【]*)', 1)) AS chumon_bango,
       cast(len(list_filter(
         list_filter(string_split(regexp_extract(pg,
           '(?s)【注文明細】(.*)', 1), chr(10)),
           x -> length(trim(x)) > 0),
         ln -> len(string_split(ln, ',')) >= 15)) AS int) AS n_details
FROM (
  SELECT doc_id, unnest(blocks) AS pg,
         generate_subscripts(blocks, 1) AS i
  FROM (
    SELECT doc_id, list_filter(
      string_split_regex(raw, '--- PAGE [0-9]+ ---'),
      x -> length(trim(x)) > 0) AS blocks
    FROM src))
"""



# ---------------------------------------------------------------------------
# WARC ingest (Common-Crawl source format) — rows-only: the input is
# synthesized WARC segments, not one of the pre-registered tables.

def _q_warc_ingest(spark, sf):
    """Synthesize WARC segments from the documents table (one gzip
    member per record, the CC layout), ingest them back through the
    binaryFile + mapInPandas source, and extract. Covers the
    source -> pages -> extraction composition end-to-end."""
    import os

    from westa_ocr_spark.operators.extract import extract_pages
    from westa_ocr_spark.sources.warc import read_warc_pages, write_warc

    docs = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
        .collect()
    )
    stage = _scratch_dir("warc_q_")
    per_seg = 50
    for seg in range(0, len(docs), per_seg):
        recs = [
            {
                "url": f"https://warc.example/d{r['doc_id']}",
                "date": "2025-01-01T00:00:00Z",
                "html": (
                    "<html><body><p>"
                    + (r["text"] or "")
                    + "</p></body></html>"
                ).encode(),
            }
            for r in docs[seg : seg + per_seg]
        ]
        with open(os.path.join(stage, f"seg-{seg:05d}.warc.gz"),
                  "wb") as f:
            f.write(write_warc(recs))
    pages = read_warc_pages(spark, stage).filter(F.col("status") == "OK")
    return extract_pages(pages).select(
        "url", "page_index", "status", "n_blocks",
        F.length("text").alias("text_chars"),
        F.sha2(F.col("text").cast("binary"), 256).alias("text_sha256"),
    )


# Round-5 value oracle (was rows-only): the synthesized WARC docs wrap
# documents.text in a single <p>, so the extraction output is exactly
# the whitespace-normalized document text — DuckDB can predict url,
# blocks, char count and the sha256 of the extracted text directly
# from the documents view (text is ASCII with single-space runs; the
# kernel's unicode-whitespace collapse reduces to trim + space
# collapse here).
_SQL_WARC_INGEST = """
SELECT 'https://warc.example/d' || doc_id AS url,
       1 AS page_index,
       'DONE' AS status,
       CASE WHEN norm = '' THEN 0 ELSE 1 END AS n_blocks,
       length(norm) AS text_chars,
       sha256(norm) AS text_sha256
FROM (
  SELECT doc_id,
         trim(regexp_replace(coalesce(text, ''), ' +', ' ', 'g')) AS norm
  FROM documents WHERE doc_id < 200
)
"""





def _q_merge_upsert(spark, sf):
    """Keyed-upsert sink semantics (S6) as a driver-oracled query: the
    REAL ``ParquetTable.merge_upsert`` runs end-to-end on its
    bucket-partitioned path (only affected partitions rewrite — the
    parquet stand-in for Iceberg MERGE INTO,
    /root/reference/app/repository.py:230-265) and the merged table is
    verified row-for-row against DuckDB's MERGE expansion
    (new-rows-win UNION ALL base anti-join). The batch contains
    in-batch duplicate rows (identical, so the key-dedup is
    deterministic) and keys 1000-2999 overlap base keys 0-1999."""
    from westa_ocr_spark.sources.tables import ParquetTable

    orders = _t(spark, sf, "orders")
    base = orders.filter(F.col("o_orderkey") < 2000).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("ck"),
        round_det(F.col("o_totalprice"), 2).alias("price"),
        F.col("o_orderstatus").alias("st"),
        (F.col("o_orderkey") % 8).cast("int").alias("b"),
    )
    batch = orders.filter(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 3000)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("ck"),
        round_det(F.col("o_totalprice") * 1.1, 2).alias("price"),
        F.lit("U").alias("st"),
        (F.col("o_orderkey") % 8).cast("int").alias("b"),
    )
    tbl = ParquetTable(_scratch_dir("westa_q_mu_"), partition_by="b")
    tbl.merge_upsert(spark, base, keys=["k"])
    tbl.merge_upsert(spark, batch.unionByName(batch), keys=["k"])
    return tbl.read(spark).select("k", "ck", "price", "st", "b")


_SQL_MERGE_UPSERT = (
    "WITH base AS (SELECT o_orderkey AS k, o_custkey AS ck, "
    + _sql_round_det("o_totalprice", 2)
    + " AS price, o_orderstatus AS st, o_orderkey % 8 AS b "
    "FROM orders WHERE o_orderkey < 2000), "
    "batch AS (SELECT o_orderkey AS k, o_custkey AS ck, "
    + _sql_round_det("o_totalprice * 1.1", 2)
    + " AS price, 'U' AS st, o_orderkey % 8 AS b "
    "FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000) "
    "SELECT k, ck, price, st, b FROM batch "
    "UNION ALL "
    "SELECT k, ck, price, st, b FROM base "
    "WHERE k NOT IN (SELECT k FROM batch)"
)


def _q_split_pages_udtf(spark, sf):
    """X1 page split through the registered Python UDTF (Spark 4
    table-function surface) — same semantics and the same DuckDB
    oracle as the SQL split_pages_explode form, so the two
    implementations cross-check each other through the driver."""
    from westa_ocr_spark.functions import udtfs

    udtfs.register(spark)
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    raw = F.concat(
        F.lit("--- PAGE 1 ---\n"),
        F.col("text"),
        F.lit("\n--- PAGE 2 ---\n"),
        F.col("source"),
        F.lit("\n--- PAGE 3 ---\n   \n"),
    )
    docs.select(F.col("doc_id").alias("in_id"), raw.alias("raw")) \
        .createOrReplaceTempView("_udtf_pages_in")
    return spark.sql(
        "SELECT s.doc_id, s.page_no, s.block "
        "FROM _udtf_pages_in, LATERAL page_split(in_id, raw) s"
    )



# name -> (Spark DataFrame fn, DuckDB oracle SQL or None).
DEFS = {
    "merge_upsert": (_q_merge_upsert, _SQL_MERGE_UPSERT),
    "filter_pending": (_q_filter_pending, _SQL_FILTER_PENDING),
    "filter_errors": (_q_filter_errors, _SQL_FILTER_ERRORS),
    "filter_nonempty": (_q_filter_nonempty, _SQL_FILTER_NONEMPTY),
    "filter_min_columns": (_q_filter_min_columns, _SQL_FILTER_MIN_COLUMNS),
    "project_rename": (_q_project_rename, _SQL_PROJECT_RENAME),
    "join_assembly": (_q_join_assembly, _SQL_JOIN_ASSEMBLY),
    "join_broadcast": (_q_join_broadcast, _SQL_JOIN_BROADCAST),
    "resume_anti_join": (_q_resume_anti_join, _SQL_RESUME_ANTI_JOIN),
    "semi_join": (_q_semi_join, _SQL_SEMI_JOIN),
    "manifest_counters": (_q_manifest_counters, _SQL_MANIFEST_COUNTERS),
    "count_totals": (_q_count_totals, _SQL_COUNT_TOTALS),
    "status_rollup": (_q_status_rollup, _SQL_STATUS_ROLLUP),
    "page_numbering": (_q_page_numbering, _SQL_PAGE_NUMBERING),
    "recent_topk": (_q_recent_topk, _SQL_RECENT_TOPK),
    "ring_buffer_topk": (_q_ring_buffer_topk, _SQL_RING_BUFFER_TOPK),
    "pagination_count": (_q_pagination_count, _SQL_PAGINATION_COUNT),
    "regex_header_extract": (_q_regex_header_extract, _SQL_REGEX_HEADER_EXTRACT),
    "split_pages_explode": (_q_split_pages_explode, _SQL_SPLIT_PAGES_EXPLODE),
    "split_pages_udtf": (_q_split_pages_udtf, _SQL_SPLIT_PAGES_EXPLODE),
    "csv_detail_parse": (_q_csv_detail_parse, _SQL_CSV_DETAIL_PARSE),
    "token_mask": (_q_token_mask, _SQL_TOKEN_MASK),
    "ts_format": (_q_ts_format, _SQL_TS_FORMAT),
    "deterministic_ids": (_q_deterministic_ids, _SQL_DETERMINISTIC_IDS),
    "props_extract": (_q_props_extract, _SQL_PROPS_EXTRACT),
    "parse_details": (_q_parse_details, _SQL_PARSE_DETAILS),
    "parse_pages": (_q_parse_pages, _SQL_PARSE_PAGES),
    "drive_id_normalize": (_q_drive_id_normalize, _SQL_DRIVE_ID_NORMALIZE),
    "prompt_assembly": (_q_prompt_assembly, _SQL_PROMPT_ASSEMBLY),
    "base64_roundtrip": (_q_base64_roundtrip, _SQL_BASE64_ROUNDTRIP),
    "extract_pages_job": (_q_extract_pages, _SQL_EXTRACT_PAGES),
    "charset_extract": (_q_charset_extract, _SQL_CHARSET_EXTRACT),
    "curation_pipeline": (_q_curation_pipeline, _sql_curation_pipeline()),
    "split_pdf_payloads": (_q_split_pdf_payloads, _SQL_SPLIT_PDF_PAYLOADS),
    "warc_ingest": (_q_warc_ingest, _SQL_WARC_INGEST),
}
