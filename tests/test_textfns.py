"""Unit tests for text-analysis column functions."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        (0, "the cat and the dog walked over the hill and back"),
        (1, "der hund und der mann und der baum"),
        (2, "le chat et le chien et le loup"),
        (3, "xyzzy plugh"),
        (4, ""),
        (5, "  spaced   out\ttabs\nnewlines  "),
        (6, "Hello, world! Really?! yes; no: maybe..."),
    ]
    return spark.createDataFrame(rows, ["id", "text"])


def _one(df, col, rid):
    return {r["id"]: r["v"] for r in df.select("id", col.alias("v"))
            .collect()}[rid]


def test_lang_id(spark, tdf):
    from westa_ocr_spark.functions.textfns import with_lang_id

    vals = {r["id"]: r["lang_id"] for r in
            with_lang_id(tdf, "text").select("id", "lang_id").collect()}
    assert vals[0] == "en"
    assert vals[1] == "de"
    assert vals[2] == "fr"
    assert vals[3] == "und"
    assert vals[4] == "und"


def test_token_count(spark, tdf):
    from westa_ocr_spark.functions.textfns import token_count

    vals = {r["id"]: r["v"] for r in
            tdf.select("id", token_count(F.col("text")).alias("v"))
            .collect()}
    assert vals[0] == 11
    assert vals[4] == 0
    assert vals[5] == 4  # mixed whitespace collapses


def test_bpe_ish_tokens(spark, tdf):
    from westa_ocr_spark.functions.textfns import bpe_ish_token_count

    v = _one(tdf, bpe_ish_token_count(F.col("text")), 6)
    # Hello , world ! Really ? ! yes ; no : maybe . . .
    assert v == 15


def test_quality_score_bounds(spark, tdf):
    from westa_ocr_spark.functions.textfns import quality_score

    vals = [r["v"] for r in
            tdf.select(quality_score(F.col("text")).alias("v")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_fingerprint_normalization(spark):
    from westa_ocr_spark.functions.textfns import fingerprint

    df = spark.createDataFrame(
        [(0, "Hello,   World!"), (1, "hello world"), (2, "HELLO-world")],
        ["id", "text"],
    )
    fps = [r["v"] for r in
           df.select(fingerprint(F.col("text")).alias("v")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_lang_id_twelve_languages(spark):
    """Round 2: >=10 languages x >=8 markers — each sample sentence in
    its own language must classify correctly (non-trivial split)."""
    from westa_ocr_spark.functions.textfns import (
        _LANG_STOPWORDS,
        with_lang_id,
    )

    assert len(_LANG_STOPWORDS) >= 10
    assert all(len(ws) >= 8 for ws in _LANG_STOPWORDS.values())

    samples = {
        "en": "the cat sat on the mat and looked at the dog that ran",
        "de": "der hund und die katze sind nicht in das haus mit mir",
        "fr": "le chat et les chiens sont dans une maison pour toujours",
        "es": "el perro y los gatos corren para la casa con una pelota",
        "it": "il cane e il gatto che corrono per la casa sono anche qui",
        "pt": "o cachorro de estimação que corre em casa para brincar com uma bola",
        "nl": "de hond en het paard van een boer niet met voor altijd",
        "sv": "hunden och katten att det som springer en katt av inte har",
        "pl": "pies i kot nie jest na drzewie to do domu z nami",
        "ru": "собака и кошка не бегут на дерево что это как по дороге",
        "ja": "これは日本語のテストです。犬は家にいます。猫を見ました。",
        "zh": "这是一个中文测试的句子我们在这里有很多人不是吗",
    }
    df = spark.createDataFrame(list(samples.items()), ["want", "text"])
    got = {
        r["want"]: r["lang_id"]
        for r in with_lang_id(df, "text").collect()
    }
    assert got == {lang: lang for lang in samples}

    # missing text is 'und', never a crash: a Spark NULL, and None or
    # NaN as they arrive in a pandas batch
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from westa_ocr_spark.functions.textfns import _lang_id_batches

    nulls = spark.createDataFrame(
        [(None,)], T.StructType([T.StructField("text", T.StringType())])
    )
    assert [r["lang_id"] for r in with_lang_id(nulls, "text").collect()] \
        == ["und"]
    (batch,) = _lang_id_batches([pd.Series([np.nan, None], dtype=object)])
    assert batch.tolist() == ["und", "und"]


def test_with_lang_id_matches_jvm_form(spark):
    """with_lang_id (a vectorized Arrow batch) must agree EXACTLY with
    the expression form of the same argmax — the DuckDB twin
    ``queries.common._sql_lang_best`` / ``_sql_lang_from_best``, the
    registry's lang-ID oracle. Marker counts are integers, so the two
    agree on ties (argmax to the alphabetically smallest language),
    consecutive stopwords, shared markers (' de ' in nl and pt), CJK
    substring counts, empty and null text."""
    import duckdb

    from westa_ocr_spark.functions.textfns import with_lang_id
    from westa_ocr_spark.queries.common import (
        _sql_lang_best,
        _sql_lang_from_best,
    )

    rows = [
        (0, None),
        (1, ""),
        (2, "the the the"),
        (3, "de de"),                 # nl/pt tie -> nl
        (4, "の の はです"),
        (5, "xyz qqq"),
        (6, " the "),
        (7, "e e y y"),               # es/it tie -> es
        (8, "i w nie il e di"),
        (9, "the und le el il o de och i и の 的"),  # 12-way spread
        (10, "word " * 40 + " the and of"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    arrow = {
        r["id"]: r["lang_id"]
        for r in with_lang_id(df, "text").select("id", "lang_id").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    twin = dict(con.execute(
        f"SELECT id, {_sql_lang_from_best('best')} FROM "
        f"(SELECT id, {_sql_lang_best('text')} AS best FROM docs)"
    ).fetchall())
    assert arrow == twin
    assert [twin[i] for i in range(len(rows))] == [
        "und", "und", "en", "nl", "ja", "und", "en", "es", "it", "pt", "en"]


def test_lang_id_und_for_no_markers(spark):
    from westa_ocr_spark.functions.textfns import with_lang_id

    df = spark.createDataFrame([("xyzzy qwerty",), ("",)], ["text"])
    rows = with_lang_id(df, "text").collect()
    assert [r["lang_id"] for r in rows] == ["und", "und"]


def test_gopher_flags_semantics(spark):
    from westa_ocr_spark.functions.textfns import with_quality_flags

    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs back to the barn for a long rest in the shade of "
            "an old oak tree while birds sing in the branches above "
            "and the farmer watches from his porch with a cup of "
            "coffee thinking about the harvest that is coming soon")
    rows = [
        (1, good),                                   # passes everything
        (2, "too few words here"),                   # word count low
        (3, "#### @@@@ %%%% " * 40),                 # symbol ratio high
        (4, ("word " * 60).strip()),                 # no stopwords + dup
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict()
           for r in with_quality_flags(df, "text").collect()}
    assert out[1]["gopher_pass"] is True
    assert out[2]["gopher_pass"] is False and out[2]["n_words"] == 4
    assert out[3]["gopher_pass"] is False
    assert out[3]["symbol_ratio"] > 0.1
    assert out[4]["gopher_pass"] is False  # stop_hits 0
    assert out[4]["dup_word_frac"] > 0.9   # 60x the same word
    assert out[4]["top_bigram_frac"] == 1.0
    assert out[1]["dup_word_frac"] < 0.6


def test_gopher_long_doc_linearithmic(spark):
    """top_bigram_frac must stay linearithmic per row: a 200k-word doc
    (2x the Gopher upper bound) with a 10%-repeated bigram finishes in
    seconds (the retired distinct-x-filter form was O(n^2) — ~1e10
    comparisons for this row) and yields the exact frequency."""
    import time

    from westa_ocr_spark.functions.textfns import with_quality_flags

    words = []
    for i in range(100_000):
        words.append("spam ham" if i % 10 == 0 else f"w{i % 7919} x{i % 613}")
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    t0 = time.time()
    row = (
        with_quality_flags(df, "text")
        .select("n_words", "top_bigram_frac")
        .collect()[0]
    )
    elapsed = time.time() - t0
    assert row["n_words"] == 200_000
    # 10,000 'spam ham' bigrams out of 199,999
    assert abs(row["top_bigram_frac"] - 0.05) < 1e-4
    assert elapsed < 60, f"quadratic regression? took {elapsed:.1f}s"


def test_normalize_url_rules(spark):
    from pyspark.sql import functions as F

    from westa_ocr_spark.functions.textfns import normalize_url

    cases = {
        "HTTPS://Example.COM:443/Path?utm_source=x&q=1#frag":
            "https://example.com/Path?q=1",
        "http://a.b:80/": "http://a.b",
        "http://a.b/p?fbclid=zzz": "http://a.b/p",
        "https://x.y/path?q=1&utm_medium=m&r=2":
            "https://x.y/path?q=1&r=2",
        "https://x.y/path/": "https://x.y/path",
        "ftp://Host/One": "ftp://host/One",  # path case preserved
        "https://x.y": "https://x.y",
        # port strip is authority-only: ':443/' inside a path survives
        "https://x.y/redir/http:443/next": "https://x.y/redir/http:443/next",
        "https://x.y:8080/p": "https://x.y:8080/p",  # non-default port kept
        # tracking-param strip is [?&]-anchored
        "https://x.y/p?myfbclid=1": "https://x.y/p?myfbclid=1",
        "https://x.y/p?a=1&xutm_foo=2": "https://x.y/p?a=1&xutm_foo=2",
        # leading tracking param: '?' restored for the first kept param
        "https://x.y/p?utm_source=a&q=2": "https://x.y/p?q=2",
        # consecutive tracking params all stripped in one pass
        "https://x.y/p?utm_a=1&utm_b=2&q=3": "https://x.y/p?q=3",
        "https://x.y/p?q=1&utm_a=2&utm_b=3": "https://x.y/p?q=1",
        # round-4 ADVICE fix: a query-less URL with a literal '&' in
        # the path must NOT be rewritten to '?'
        "http://h/a&b": "http://h/a&b",
        "http://h/a&b/c?q=1": "http://h/a&b/c?q=1",
        # ?-param followed only by tracking params vanishes entirely
        "https://x.y/p?utm_a=1&utm_b=2": "https://x.y/p",
    }
    df = spark.createDataFrame([(k,) for k in cases], ["url"])
    got = {r["url"]: r["n"] for r in
           df.select("url", normalize_url(F.col("url")).alias("n")).collect()}
    assert got == cases


def test_sequence_packing_strict_respects_budget(spark):
    """Capacity invariant of the strict packer: no multi-doc pack
    exceeds the 2048-token budget (an oversized single doc may)."""
    from westa_ocr_spark.queries.text_q import _q_sequence_packing_strict

    rows = _q_sequence_packing_strict(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["pack_tokens"] <= 2048 or r["n_docs"] == 1, r
