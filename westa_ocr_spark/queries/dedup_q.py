"""Deduplication queries: exact, MinHash/LSH, n-gram Jaccard, SimHash,
duplicate-group resolution, keep-canonical, C4 line dedup."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from westa_ocr_spark.functions import textfns  # noqa: F401
from westa_ocr_spark.functions.textfns import round_det  # noqa: F401
from westa_ocr_spark.queries.common import (  # noqa: F401
    _SQL_NORM, _SQL_WORDS, _sql_lang_best, _sql_lang_from_best,
    _sql_lang_scores, _sql_occ, _sql_punct_ratio, _sql_quality,
    _sql_round_det, _sql_shingles, _sql_simhash16,
    _sql_simhash64_query, _sql_stop_ratio,
    _sql_token_count, _scratch_dir, _t,
)

from westa_ocr_spark.operators import dedup  # noqa: F401
# ---------------------------------------------------------------------------
# Deduplication

def _q_exact_dedup(spark, sf):
    """Exact dup groups over documents PLUS a deterministic duplicated
    slice (doc_id % 7 == 3 re-inserted under doc_id + 100000): the raw
    table can have zero byte-identical pairs at some scale factors,
    which would make the oracle row trivially empty — the seeded
    duplicates keep the check non-degenerate at every sf."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return dedup.exact_duplicates(docs.unionByName(dups))


_SQL_EXACT_DEDUP = (
    f"SELECT fp, count(*) AS group_size, min(doc_id) AS canonical_id "
    f"FROM (SELECT md5({_SQL_NORM.format(c='text')}) AS fp, doc_id "
    "FROM (SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 3)"
    ") GROUP BY fp HAVING count(*) > 1"
)


def _q_dedup_incremental(spark, sf):
    """Cross-run exact dedup against a persistent fingerprint store:
    run 1 ingests docs <300 (populating the store), run 2 ingests
    fresh docs 300..500 PLUS a re-crawl of docs 100..200 under new
    ids (same content). The re-crawl must be dropped by the STORE
    (not batch-internal dedup) — the incremental-corpus-growth shape.
    Returns run 2's surviving doc ids."""
    from westa_ocr_spark.operators.dedup import (
        dedup_against_store,
        fp_bucket_store,
    )

    # Bucketed store: the incremental anti-join prunes to the batch's
    # fp buckets. n_buckets=8 sizes the layout to these few-hundred-doc
    # batches (every merge pays O(touched buckets) in tasks/files); a
    # crawl store would use the 64+ default — see fp_bucket_store. The
    # store's bucket-count sidecar sits next to it, inside the scratch
    # directory.
    store = fp_bucket_store(f"{_scratch_dir('westa_q_dedup_')}/store",
                            n_buckets=8)
    docs = _t(spark, sf, "documents")
    b1 = docs.filter(F.col("doc_id") < 300).select("doc_id", "text")
    b2 = (
        docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 500))
        .select("doc_id", "text")
        .unionByName(
            docs.filter(
                (F.col("doc_id") >= 100) & (F.col("doc_id") < 200)
            ).select(
                (F.col("doc_id") + 500000).alias("doc_id"), "text"
            )
        )
    )
    dedup_against_store(spark, b1, store)
    out = dedup_against_store(spark, b2, store)
    return out.select("doc_id").orderBy("doc_id")


_SQL_DEDUP_INCREMENTAL = (
    f"WITH b1 AS (SELECT md5({_SQL_NORM.format(c='text')}) AS fp "
    "FROM documents WHERE doc_id < 300), "
    "b2 AS (SELECT doc_id, "
    f"md5({_SQL_NORM.format(c='text')}) AS fp FROM ("
    "SELECT doc_id, text FROM documents "
    "WHERE doc_id >= 300 AND doc_id < 500 "
    "UNION ALL SELECT doc_id + 500000, text FROM documents "
    "WHERE doc_id >= 100 AND doc_id < 200)), "
    "canon AS (SELECT fp, min(doc_id) AS doc_id FROM b2 GROUP BY fp) "
    "SELECT doc_id FROM canon WHERE fp NOT IN (SELECT fp FROM b1) "
    "ORDER BY doc_id"
)


def _q_minhash_signatures(spark, sf):
    return dedup.minhash_signatures(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    )


_SQL_MINHASH_SIGNATURES = (
    "SELECT doc_id, "
    + ", ".join(
        f"min(md5('{seed}:' || shingle)) AS mh_{i}"
        for i, seed in enumerate(dedup.MINHASH_SEEDS)
    )
    + " FROM (SELECT doc_id, unnest("
    + _sql_shingles("text")
    + ") AS shingle FROM documents WHERE doc_id < 500) "
    "WHERE length(shingle) > 0 GROUP BY doc_id"
)


def _q_ngram_jaccard(spark, sf):
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 500),
        top_n=20,
    )


_SQL_NGRAM_JACCARD = (
    "WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ("
    "SELECT doc_id, unnest(" + _sql_shingles("text") + ") AS shingle "
    "FROM documents WHERE doc_id < 500) WHERE length(shingle) > 0), "
    "sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1), "
    "shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "count(*) AS shared FROM sh a JOIN sh b USING (shingle) "
    "WHERE a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT doc_a, doc_b, shared, sa.n_shingles AS size_a, "
    "sb.n_shingles AS size_b, "
    + _sql_round_det(
        "cast(shared AS double) / (sa.n_shingles + sb.n_shingles - shared)",
        6)
    + " AS jaccard "
    "FROM shared JOIN sizes sa ON sa.doc_id = doc_a "
    "JOIN sizes sb ON sb.doc_id = doc_b "
    "ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20"
)


def _q_simhash16(spark, sf):
    return dedup.simhash16_df(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    )


_SQL_SIMHASH16 = (
    f"SELECT doc_id, {_sql_simhash16('text')} AS simhash "
    "FROM documents WHERE doc_id < 300"
)


def _q_simhash64(spark, sf):
    # 64-bit numpy-vectorized SimHash; round 5 adds the DuckDB
    # integer-bit-ops twin (was rows-only), so the driver now verifies
    # the 64-bit values, not just row counts.
    return dedup.simhash64(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    )


_SQL_SIMHASH64 = _sql_simhash64_query(
    "SELECT doc_id, text FROM documents WHERE doc_id < 300"
)


def _q_duplicated_spans(spark, sf):
    """Cross-doc repeated-span detection (round 5, Lee-et-al-style
    substring dedup at word granularity) over documents <300 plus two
    seeded slices that make the check non-degenerate at every sf:
    full re-crawls (doc_id%5==2 under +100000) and 20-word prefix
    excerpts (doc_id%5==4 under +200000), which produce PARTIAL spans
    in the parents — the interesting case."""
    from westa_ocr_spark.functions.textfns import normalize_text
    from westa_ocr_spark.operators.dedup import duplicated_spans

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    full_dup = docs.filter(F.col("doc_id") % 5 == 2).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    words = F.split(normalize_text(F.col("text")), " ")
    excerpt = docs.filter(F.col("doc_id") % 5 == 4).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, 20)).alias("text"),
    )
    src = docs.select("doc_id", "text").unionByName(full_dup).unionByName(
        excerpt
    )
    return duplicated_spans(src, k=8).orderBy(
        "doc_id", "start_word"
    )


_SQL_DUPLICATED_SPANS = f"""
WITH src AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT doc_id + 100000, text FROM documents
  WHERE doc_id < 300 AND doc_id % 5 = 2
  UNION ALL
  SELECT doc_id + 200000,
         array_to_string(string_split({_SQL_NORM.format(c='text')},
                                      ' ')[1:20], ' ')
  FROM documents WHERE doc_id < 300 AND doc_id % 5 = 4
),
w AS (
  SELECT doc_id, string_split({_SQL_NORM.format(c='text')}, ' ') AS words
  FROM src
),
sh AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(words[i:i+7], ' ') AS shingle
  FROM w, unnest(generate_series(1, len(words) - 7)) AS t(i)
  WHERE len(words) >= 8
),
dup AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(DISTINCT doc_id) >= 2
),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS grp
  FROM sh WHERE shingle IN (SELECT shingle FROM dup)
)
SELECT doc_id, min(pos) AS start_word, max(pos) + 8 AS end_word,
       max(pos) + 8 - min(pos) AS n_words
FROM runs GROUP BY doc_id, grp
ORDER BY doc_id, start_word
"""




# ---------------------------------------------------------------------------
# Coverage batch 7 (round 2): duplicate-group resolution

def _q_duplicate_groups(spark, sf):
    """LSH/Jaccard candidate edges -> connected components ->
    (doc_id, canonical_id, group_size). The oracled twin derives its
    edges from the SQL-expressible Jaccard path (jaccard >= 0.9) so
    DuckDB can replay the whole thing with a recursive CTE; the
    128-perm LSH edge source is covered by `lsh_dup_candidates` +
    the chain-collapse unit test."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    edges = dedup.ngram_jaccard_pairs(
        docs, min_jaccard=0.9, top_n=None
    ).select("doc_a", "doc_b")
    return dedup.duplicate_groups(docs, edges=edges)


_SQL_DUPLICATE_GROUPS = (
    "WITH RECURSIVE sh AS (SELECT DISTINCT doc_id, shingle FROM ("
    "SELECT doc_id, unnest(" + _sql_shingles("text") + ") AS shingle "
    "FROM documents WHERE doc_id < 500) WHERE length(shingle) > 0), "
    "sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1), "
    "shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "count(*) AS shared FROM sh a JOIN sh b USING (shingle) "
    "WHERE a.doc_id < b.doc_id GROUP BY 1, 2), "
    "pairs AS (SELECT doc_a, doc_b FROM shared "
    "JOIN sizes sa ON sa.doc_id = doc_a "
    "JOIN sizes sb ON sb.doc_id = doc_b WHERE "
    + _sql_round_det(
        "cast(shared AS double) / (sa.n_shingles + sb.n_shingles - shared)",
        6)
    + " >= 0.9), "
    "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
    "UNION SELECT doc_b, doc_a FROM pairs), "
    "walk(node, label) AS (SELECT u, u FROM edges UNION "
    "SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node), "
    "comp AS (SELECT node, min(label) AS canonical_id FROM walk "
    "GROUP BY node) "
    "SELECT c.node AS doc_id, c.canonical_id, g.group_size "
    "FROM comp c JOIN (SELECT canonical_id, count(*) AS group_size "
    "FROM comp GROUP BY 1) g USING (canonical_id)"
)


def _q_lsh_dup_candidates(spark, sf):
    """Production 128-perm x 16-band LSH candidate pairs (xxhash64
    universal-hash family — not SQL-twinnable, rows-only check)."""
    return dedup.lsh_candidate_pairs(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    )




# ---------------------------------------------------------------------------
# Canonical-survivor dedup (the filter a training pipeline applies)

def _q_dedup_keep_canonical(spark, sf):
    return dedup.keep_canonical(_t(spark, sf, "documents")).select(
        "doc_id", "lang", "n_chars"
    )


_SQL_DEDUP_KEEP_CANONICAL = (
    "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id IN ("
    f"SELECT min(doc_id) FROM (SELECT doc_id, "
    f"md5({_SQL_NORM.format(c='text')}) AS fp FROM documents) "
    "GROUP BY fp)"
)



# ---------------------------------------------------------------------------
# C4-style cross-corpus line dedup (boilerplate lines by document freq)

def _q_line_dedup(spark, sf):
    """Synthesized multi-line docs: a corpus-wide cookie banner
    (df=500) and a per-group banner (df~71) must vanish; the
    doc-unique intro/tail lines must survive in order."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    words = F.split("text", " ")
    raw = F.concat_ws(
        "\n",
        F.concat(F.lit("intro "), F.col("doc_id").cast("string"),
                 F.lit(" "), F.concat_ws(" ", F.slice(words, 1, 5))),
        F.lit("cookie notice accept all cookies"),
        F.concat(F.lit("group banner "),
                 (F.col("doc_id") % 7).cast("string")),
        F.concat(F.lit("unique tail "), F.col("doc_id").cast("string")),
    )
    return dedup.line_corpus_dedup(
        docs.select("doc_id", raw.alias("text")), max_line_df=10
    )


_SQL_LINE_DEDUP = """
WITH src AS (
  SELECT doc_id,
    'intro ' || cast(doc_id AS varchar) || ' ' ||
      array_to_string((string_split(text, ' '))[1:5], ' ') || chr(10) ||
    'cookie notice accept all cookies' || chr(10) ||
    'group banner ' || cast(doc_id % 7 AS varchar) || chr(10) ||
    'unique tail ' || cast(doc_id AS varchar) AS raw
  FROM documents WHERE doc_id < 500
), lines AS (
  SELECT doc_id, cast(i AS int) - 1 AS pos, ln FROM (
    SELECT doc_id, unnest(ls) AS ln, generate_subscripts(ls, 1) AS i
    FROM (SELECT doc_id, string_split(raw, chr(10)) AS ls FROM src))
), hot AS (
  SELECT ln FROM (
    SELECT DISTINCT ln, doc_id FROM lines WHERE length(trim(ln)) > 0)
  GROUP BY ln HAVING count(*) > 10
)
SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text
FROM lines WHERE ln NOT IN (SELECT ln FROM hot)
GROUP BY doc_id
"""




# name -> (Spark DataFrame fn, DuckDB oracle SQL or None).
DEFS = {
    "exact_dedup": (_q_exact_dedup, _SQL_EXACT_DEDUP),
    "minhash_signatures": (_q_minhash_signatures, _SQL_MINHASH_SIGNATURES),
    "ngram_jaccard": (_q_ngram_jaccard, _SQL_NGRAM_JACCARD),
    "simhash16": (_q_simhash16, _SQL_SIMHASH16),
    "simhash64": (_q_simhash64, _SQL_SIMHASH64),
    "duplicated_spans": (_q_duplicated_spans, _SQL_DUPLICATED_SPANS),
    "duplicate_groups": (_q_duplicate_groups, _SQL_DUPLICATE_GROUPS),
    "lsh_dup_candidates": (_q_lsh_dup_candidates, None),
    "dedup_keep_canonical": (_q_dedup_keep_canonical, _SQL_DEDUP_KEEP_CANONICAL),
    "line_dedup": (_q_line_dedup, _SQL_LINE_DEDUP),
    "dedup_incremental": (_q_dedup_incremental, _SQL_DEDUP_INCREMENTAL),
}
