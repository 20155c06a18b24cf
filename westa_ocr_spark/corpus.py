"""Deterministic synthetic Common-Crawl-style corpus generator.

Materializes the ``pages`` table mandated by BASELINE.json ``input_hint``
(``url:string, warc_ts:timestamp, html:binary, text:string, lang:string``)
per the grammar in FIXTURES.md §1: seeded HTML docs with high-link-density
nav/header/footer boilerplate plus low-density main content, ~5% PDF byte
streams, ~1% oversized payloads (>=256 KiB, exercises salt-based skew
splitting), ~1% malformed inputs (exercises the per-row ERROR path,
cf. ``/root/reference/app/worker.py:798-823``).

All row values are content-derived (sha256 of the row index) — no
wall-clock, no ambient randomness (SURVEY.md §7.3); identical output for
a given (n_rows, seed) on every run and Python version.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os

from westa_ocr_spark.kernel.pdf_mini import encrypt_pdf, write_pdf

_WORDS = (
    "spark shuffle partition columnar vector batch arrow kernel density "
    "boiler content extract document crawl archive token stream page block "
    "anchor footer header nav script style entity whitespace unicode text "
    "offset span manifest lineage resume checkpoint idempotent upsert merge "
    "salt skew broadcast join aggregate window explode filter project scan"
).split()

_LANGS = ["en", "ja", "de", "fr", "pt"]

EPOCH = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)
OVERSIZED_BYTES = 256 * 1024

# bump when the document grammar changes: cache directories derived
# from the corpus must not survive a grammar change
CORPUS_VERSION = 7

# Charset dialects (corpus v7): a real crawl is not all-UTF-8, so
# HTML docs cycle declared charsets. Each entry is
# (meta_style, declared_label, python_codec, native_sentence);
# meta_style: "plain" = no declaration (UTF-8 default path, or the
# undeclared-cp1252 last-resort leg), "meta" = <meta charset=...>,
# "http-equiv" = the legacy Content-Type meta, "bom16" = UTF-16-LE
# with BOM, "nobom16" = UTF-16-LE with NO BOM (markup-signature
# sniff only).
# Native sentences keep the non-ASCII planes honest (the rest of the
# grammar is ASCII and would decode identically under any charset).
_CHARSET_DIALECTS: tuple[tuple[str, str | None, str, str], ...] = (
    ("plain", None, "utf-8", ""),
    ("plain", None, "utf-8", ""),
    ("plain", None, "utf-8", ""),
    ("meta", "utf-8", "utf-8", "Déjà vu — naïve café résumé."),
    ("meta", "windows-1252", "cp1252", "Fenêtre déjà ouverte, garçon ébloui."),
    ("meta", "Shift_JIS", "cp932", "日本語の本文抽出は決定的に動作します。"),
    ("http-equiv", "EUC-KR", "cp949", "한국어 본문 추출 테스트 문장입니다."),
    ("meta", "GB2312", "gbk", "中文网页正文抽取测试句子。"),
    ("bom16", None, "utf-16-le", "Vollständig geprüfter Text — äöüß."),
    ("http-equiv", "Shift_JIS", "cp932", "追加の日本語テスト文です。"),
    # UNDECLARED legacy page: no BOM, no meta — only the WHATWG
    # windows-1252 last resort decodes it (browsers never error here)
    ("plain", None, "cp1252", "Fenêtre déjà ouverte, çà et là rêvé."),
    ("meta", "EUC-JP", "euc_jp", "日本語ページの別系統の符号化です。"),
    ("http-equiv", "Big5", "big5", "繁體中文網頁內文測試句子。"),
    # BOM-LESS UTF-16-LE: only the '<\x00' markup-signature sniff
    # decodes it (no BOM, no meta possible at the byte level)
    ("nobom16", None, "utf-16-le", "Zeichenkodierung ohne BOM geprüft."),
)


def charset_for(i: int, seed: int = 42) -> tuple[str, str | None, str, str]:
    """The charset dialect row ``i``'s HTML doc is encoded with."""
    return _CHARSET_DIALECTS[_hint(i, "cs", len(_CHARSET_DIALECTS), seed)]


def _h(i: int, salt: str, seed: int = 42) -> bytes:
    return hashlib.sha256(f"{seed}:{salt}:{i}".encode()).digest()


def _hint(i: int, salt: str, mod: int, seed: int = 42) -> int:
    return int.from_bytes(_h(i, salt, seed)[:8], "big") % mod


def _sentence(i: int, j: int, n_words: int, seed: int = 42) -> str:
    words = [
        _WORDS[_hint(i * 1000 + j * 37 + k, "w", len(_WORDS), seed)]
        for k in range(n_words)
    ]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(i: int, j: int, seed: int = 42) -> str:
    n_sent = 2 + _hint(i * 31 + j, "ns", 4, seed)
    return " ".join(_sentence(i, j * 10 + s, 6 + _hint(i + s, "nw", 9, seed))
                    for s in range(n_sent))


def url_for(i: int, seed: int = 42) -> str:
    slug = hashlib.sha256(f"{seed}:{i}".encode()).hexdigest()[:12]
    return f"https://site{i % 97}.example/p/{slug}"


def kind_for(i: int) -> str:
    """Row kind by index: deterministic mix per FIXTURES.md §1."""
    if i % 100 == 93:
        return "malformed"
    if i % 100 == 71:
        return "oversized"
    if i % 20 == 7:
        return "pdf"
    return "html"


def make_html(i: int, seed: int = 42, oversized: bool = False) -> bytes:
    """Assemble one synthetic HTML document from the seeded grammar.

    Corpus v7: docs cycle through the charset dialects in
    ``_CHARSET_DIALECTS`` — declared via ``<meta charset>``,
    ``http-equiv``, a UTF-16 BOM, or nothing (UTF-8 default) — and
    carry a native-language sentence in the declared charset's plane,
    so extraction exercises the kernel's charset sniffing end-to-end.
    """
    meta_style, label, pycodec, native = charset_for(i, seed)
    n_para = 3 + _hint(i, "np", 10, seed)  # 3..12 main-content blocks
    paras = [_paragraph(i, j, seed) for j in range(n_para)]
    if native:
        paras.insert(
            _hint(i, "cp", len(paras), seed),
            f"{native} {_sentence(i, 888, 4, seed)}",
        )
    if oversized:
        reps = OVERSIZED_BYTES // max(1, len(" ".join(paras))) + 1
        paras = [p for _ in range(reps) for p in paras]

    nav_links = "".join(
        f'<li><a href="/s/{k}">{_WORDS[_hint(i + k, "nl", len(_WORDS), seed)]}'
        f"</a></li>"
        for k in range(6)
    )
    entity_word = "caf&eacute; &amp; &#x3042;"  # entity normalization probe
    body_paras = "".join(
        f"<p>{p}</p>" if j % 3 else f"<div><p>{p}</p></div>"
        for j, p in enumerate(paras)
    )
    # a short low-link-density sidebar container: survives the
    # link-density filter but is dropped by candidate selection
    # whenever the article dominates (>=60% of kept text)
    sidebar = (
        f"<div><p>{_sentence(i, 777, 3, seed)}</p>"
        f'<p><a href="/more">more</a> {_WORDS[_hint(i, "sb", len(_WORDS), seed)]}</p></div>'
    )
    if meta_style == "meta":
        meta_tag = f'<meta charset="{label}">'
    elif meta_style == "http-equiv":
        meta_tag = (
            '<meta http-equiv="Content-Type" '
            f'content="text/html; charset={label}">'
        )
    else:  # plain / bom16: no in-document declaration
        meta_tag = ""
    html = (
        f"<!DOCTYPE html><html><head>{meta_tag}<title>t</title>"
        "<style>p{color:red}</style>"
        "<script>var x = '<p>not content</p>';</script></head>"
        "<body>"
        f"<nav><ul>{nav_links}</ul></nav>"
        f'<header><a href="/">home</a> <a href="/about">about</a></header>'
        "<article>"
        f"<h1>{_sentence(i, 999, 4, seed)[:-1]}</h1>"
        f"<p>intro {entity_word} \t\n  spaced</p>"
        f"{body_paras}"
        "</article>"
        f"{sidebar}"
        "<!-- a comment that must vanish -->"
        f'<footer><a href="/tos">terms</a> <a href="/priv">privacy</a>'
        "</footer></body></html>"
    )
    if meta_style == "bom16":
        import codecs

        return codecs.BOM_UTF16_LE + html.encode("utf-16-le")
    if meta_style == "nobom16":
        return html.encode("utf-16-le")
    return html.encode(pycodec)


def make_pdf(i: int, seed: int = 42) -> bytes:
    """PDF docs cycle through real-world dialects (corpus v7): classic
    uncompressed, FlateDecode'd, TJ-array show text, PDF 1.5
    object-stream/xref-stream layouts, the three encrypted
    empty-user-password classes pypdf opens silently — RC4 (R3),
    AES-128 (V4/R4 AESV2), AES-256 (V5/R6 AESV3) — and, new in v7,
    custom-encoded fonts via /Encoding /Differences and /ToUnicode
    CMaps (text bytes are font codes, not latin-1), so the pipeline's
    PDF path is exercised against the full range of pypdf-class
    documents. Extracted text is dialect-independent, so the pinned
    byte goldens hold across corpus versions."""
    n_pages = 1 + _hint(i, "pp", 3, seed)  # 1..3 pages
    pages = [
        "\n".join(_sentence(i, p * 100 + line, 7, seed) for line in range(3))
        for p in range(n_pages)
    ]
    dialect = _hint(i, "pd", 9, seed)
    if dialect == 1:
        return write_pdf(pages, compress=True)
    if dialect == 2:
        return write_pdf(pages, compress=True, tj_arrays=True)
    if dialect == 3:
        return write_pdf(pages, objstm=True, tj_arrays=True)
    if dialect == 4:
        return encrypt_pdf(write_pdf(pages, compress=True))
    if dialect == 5:
        return encrypt_pdf(write_pdf(pages, compress=True), aes=True)
    if dialect == 6:
        return encrypt_pdf(write_pdf(pages, compress=True), aes256=True)
    if dialect == 7:  # round 5: /Encoding /Differences custom codes
        return write_pdf(pages, font_differences=True, compress=True)
    if dialect == 8:  # round 5: /ToUnicode CMap custom codes
        return write_pdf(pages, tounicode=True, compress=True)
    return write_pdf(pages)


def make_malformed(i: int) -> bytes:
    if i % 2:
        return b"\xff\xfe\x00<html><p>bad bytes" + _h(i, "mal")[:8]
    return b"%PDF-1.4\n1 0 obj\n<< truncated"


def make_row(i: int, seed: int = 42) -> dict:
    kind = kind_for(i)
    if kind == "pdf":
        html = make_pdf(i, seed)
    elif kind == "malformed":
        html = make_malformed(i)
    elif kind == "oversized":
        html = make_html(i, seed, oversized=True)
    else:
        html = make_html(i, seed)
    return {
        "url": url_for(i, seed),
        "warc_ts": EPOCH + _dt.timedelta(seconds=137 * i),
        "html": html,
        "text": _paragraph(i, 0, seed) if kind == "html" else "",
        "lang": _LANGS[i % len(_LANGS)],
    }


def generate_rows(n: int, seed: int = 42):
    for i in range(n):
        yield make_row(i, seed)


def write_pages_parquet(path: str, n: int, seed: int = 42,
                        rows_per_file: int = 10_000) -> str:
    """Write the pages table as a parquet directory (no Spark needed).

    Multiple files so a Spark scan parallelizes across input splits.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    os.makedirs(path, exist_ok=True)
    buf: list[dict] = []
    part = 0

    def _flush() -> None:
        nonlocal buf, part
        if not buf:
            return
        table = pa.Table.from_pylist(buf, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))
        buf = []
        part += 1

    for row in generate_rows(n, seed):
        buf.append(row)
        if len(buf) >= rows_per_file:
            _flush()
    _flush()
    return path


def write_pages_parquet_spark(spark, path: str, n: int) -> str:
    """Generate the pages table in parallel on the cluster.

    ``spark.range(n)`` distributes row indices; each Arrow batch is
    synthesized executor-side from the same content-derived generator,
    so the result is row-for-row identical to
    :func:`write_pages_parquet` at its default seed (just distributed —
    the honest way to materialize a large corpus).
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("html", T.BinaryType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("lang", T.StringType(), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = [make_row(int(i)) for i in pdf["id"]]
            out = pd.DataFrame(rows)
            out["warc_ts"] = pd.to_datetime(out["warc_ts"], utc=True)
            yield out

    parallelism = spark.sparkContext.defaultParallelism
    df = spark.range(n).repartition(parallelism).mapInPandas(
        gen, schema=schema
    )
    df.write.mode("overwrite").parquet(path)
    return path
