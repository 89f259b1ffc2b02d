"""Sources, parsers, chunkers, state ledger, pipeline surface (S/C/T/P rows)."""

# Split from the original entrypoints.py monolith (round 11);
# blocks keep their original relative order.

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from yaml_pipe_spark.functions.hashing import sha256_text
from yaml_pipe_spark.functions.text import non_empty
from yaml_pipe_spark.operators.chunkers import fixed_window_chunks, markdown_chunks
from yaml_pipe_spark.session import run_wave
from yaml_pipe_spark.tables import load_table

from yaml_pipe_spark.entrypoints._shared import (
    register,
)


# ---------------------------------------------------------------------------
# S1: scan + glob/empty-filter + content hash (sources.py:78-97)
# ---------------------------------------------------------------------------


@register(
    "s1_scan_nonempty",
    """
SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars,
       sha256(text) AS content_hash
FROM documents WHERE length(trim(text, e' \n\r\t')) > 0
""",
    "S1 LocalFileSource: skip empty docs, sha256 content hash",
)
def q_s1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(non_empty(F.col("text"))).select(
        "doc_id",
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        sha256_text(F.col("text")).alias("content_hash"),
    )


# Per-extension parse dispatch (reference sources.py:92-93: unstructured
# element extraction + "\n\n" join). The corpus gets a deterministic synthetic
# extension per doc (hash of doc_id over txt/md/html), then one CASE-WHEN
# dispatch applies that format's parser — all Catalyst expressions; the
# element split/trim regexes use explicit whitespace classes so Java regex
# and DuckDB RE2 agree (\s differs between them).
_DK_ELS = (
    "list_filter(list_transform(regexp_split_to_array({src}, "
    "'\\n[ \\t\\r]*\\n[ \\t\\r\\n]*'), x -> regexp_replace(regexp_replace(x, "
    "'^[ \\t\\r\\n]+', ''), '[ \\t\\r\\n]+$', '')), x -> length(x) > 0)"
)


_DK_HTML_SRC = (
    "regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), "
    "'[ \\t]+', ' ', 'g')"
)


_DK_ELS_TXT = _DK_ELS.format(src="text")


_DK_ELS_HTML = _DK_ELS.format(src=_DK_HTML_SRC)


_PARSE_DISPATCH_ORACLE = f"""
WITH tagged AS (
  SELECT doc_id, text,
         ['txt', 'md', 'html'][
           ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
            + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 3 + 1
         ] AS ext
  FROM documents
),
parsed AS (
  SELECT doc_id, ext,
         CASE ext
           WHEN 'txt' THEN array_to_string({_DK_ELS_TXT}, e'\\n\\n')
           WHEN 'md' THEN array_to_string(list_transform(
                {_DK_ELS_TXT},
                x -> regexp_replace(x, '^#{{1,6}}[ \\t]+', '')), e'\\n\\n')
           WHEN 'html' THEN array_to_string({_DK_ELS_HTML}, e'\\n\\n')
         END AS parsed
  FROM tagged
)
SELECT ext,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN length(parsed) > 0
                     THEN len(string_split(parsed, e'\\n\\n')) ELSE 0 END)
            AS BIGINT) AS n_elements,
       CAST(count(DISTINCT md5(parsed)) AS BIGINT) AS n_uniq,
       round(avg(length(parsed)), 4) AS avg_len
FROM parsed
GROUP BY ext
"""


@register(
    "s1_parse_dispatch",
    _PARSE_DISPATCH_ORACLE,
    "S1 parse seam: per-extension parser dispatch (txt/md/html), element "
    "split + blank-line join, all whole-stage-codegen expressions",
)
def q_s1_parse_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.sources.parsers import parse_by_extension

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = F.md5(F.col("doc_id").cast("string"))
    # first md5 byte as an integer; the oracle spells the same value with
    # strpos('0123456789abcdef', ...) arithmetic (DuckDB has no conv())
    code = F.conv(F.substring(h, 1, 2), 16, 10).cast("long")
    tagged = docs.withColumn(
        "ext",
        F.element_at(
            F.array(F.lit("txt"), F.lit("md"), F.lit("html")),
            (code % 3 + 1).cast("int"),
        ),
    )
    parsed = tagged.withColumn(
        "parsed", parse_by_extension(F.col("text"), F.col("ext"))
    )
    n_els = F.when(
        F.length("parsed") > 0, F.size(F.split(F.col("parsed"), "\n\n"))
    ).otherwise(F.lit(0))
    return parsed.groupBy("ext").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(n_els).cast("long").alias("n_elements"),
        F.countDistinct(F.md5("parsed")).cast("long").alias("n_uniq"),
        F.round(F.avg(F.length("parsed")), 4).alias("avg_len"),
    )


# ---------------------------------------------------------------------------
# C1: fixed-window chunker, full row-level output (chunkers.py:39-87)
# ---------------------------------------------------------------------------


@register(
    "c1_fixed_chunk",
    """
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE length(trim(text, e' \n\r\t')) > 0
),
starts AS (
  SELECT doc_id, text, UNNEST(generate_series(1, length(text), 160)) AS s
  FROM docs
)
SELECT doc_id,
       (s - 1) // 160 + 1 AS chunk_index,
       sha256(substr(text, CAST(s AS INT), 200)) AS chunk_hash,
       CAST(length(substr(text, CAST(s AS INT), 200)) AS BIGINT) AS chunk_len
FROM starts
""",
    "C1 fixed-window chunker: 1-based chunk_index, per-chunk hash",
)
def q_c1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = fixed_window_chunks(docs, "text", chunk_size=200, chunk_overlap=40)
    return chunks.select(
        "doc_id",
        "chunk_index",
        sha256_text(F.col("chunk")).alias("chunk_hash"),
        F.length("chunk").cast("long").alias("chunk_len"),
    )


# ---------------------------------------------------------------------------
# C2: markdown sectionizer (chunkers.py:90-138)
# ---------------------------------------------------------------------------

C2_ORACLE = r"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE length(trim(text, e' \n\r\t')) > 0
),
marked AS (
  SELECT doc_id,
         string_split(regexp_replace(text, '(?m)^(#{1,3} )', e'\x01\1', 'g'),
                      e'\x01') AS l
  FROM docs
),
secs AS (
  SELECT doc_id, UNNEST(generate_series(1, len(l))) AS i, l FROM marked
),
parts AS (
  SELECT doc_id, i, trim(l[i], e' \n\r\t') AS sec FROM secs
  WHERE length(trim(l[i], e' \n\r\t')) > 0
),
feat AS (
  SELECT doc_id, i, sec,
         COALESCE(length(regexp_extract(string_split(sec, chr(10))[1],
                                        '^(#{1,3}) ', 1)), 0) AS lvl,
         regexp_extract(string_split(sec, chr(10))[1], '^#{1,3} (.*)$', 1) AS ttl
  FROM parts
),
mk AS (
  SELECT doc_id, i, sec, lvl,
         CASE WHEN lvl = 1 THEN ttl END AS m1,
         CASE WHEN lvl = 2 THEN ttl WHEN lvl = 1 THEN e'\x01' END AS m2,
         CASE WHEN lvl = 3 THEN ttl
              WHEN lvl IN (1, 2) THEN e'\x01' END AS m3
  FROM feat
),
win AS (
  SELECT doc_id, i, sec,
         last_value(m1 IGNORE NULLS) OVER w AS h1,
         last_value(m2 IGNORE NULLS) OVER w AS h2,
         last_value(m3 IGNORE NULLS) OVER w AS h3,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS chunk_index
  FROM mk
  WINDOW w AS (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index,
       sha256(sec) AS chunk_hash,
       CASE WHEN h1 <> e'\x01' THEN h1 END AS header1,
       CASE WHEN h2 <> e'\x01' THEN h2 END AS header2,
       CASE WHEN h3 <> e'\x01' THEN h3 END AS header3
FROM win
"""


@register(
    "c2_markdown_chunk",
    C2_ORACLE,
    "C2 markdown sectionizer with hierarchical header metadata",
)
def q_c2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = markdown_chunks(docs, "text", id_cols=["doc_id"])
    return out.select(
        "doc_id",
        "chunk_index",
        sha256_text(F.col("chunk")).alias("chunk_hash"),
        "header1",
        "header2",
        "header3",
    )


# ---------------------------------------------------------------------------
# T2: incremental change detection (state_manager.py:155-178) — the engine's
# one implicit join, as a left anti-join against a derived ledger
# ---------------------------------------------------------------------------


@register(
    "t2_changed_anti_join",
    """
WITH d AS (SELECT doc_id, text FROM documents WHERE length(trim(text, e' \n\r\t')) > 0),
cur AS (
  SELECT CAST(doc_id AS VARCHAR) AS item_id,
         sha256(CASE WHEN doc_id % 5 = 0 THEN text || '!' ELSE text END)
           AS content_hash
  FROM d
),
st AS (
  SELECT CAST(doc_id AS VARCHAR) AS item_id, sha256(text) AS content_hash
  FROM d WHERE doc_id % 3 = 0
)
SELECT c.item_id, c.content_hash FROM cur c
WHERE NOT EXISTS (
  SELECT 1 FROM st s
  WHERE s.item_id = c.item_id AND s.content_hash = c.content_hash
)
""",
    "T2 has_changed as anti-join: new docs + docs whose hash moved",
)
def q_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.state import changed_rows

    docs = load_table(spark, sf_dir, "documents").filter(non_empty(F.col("text")))
    cur_text = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit("!"))
    ).otherwise(F.col("text"))
    current = docs.select(
        F.col("doc_id").cast("string").alias("item_id"),
        sha256_text(cur_text).alias("content_hash"),
    )
    state = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").cast("string").alias("item_id"),
        sha256_text(F.col("text")).alias("content_hash"),
    )
    return changed_rows(current, state)


@register(
    "t4_timestamp_cursor",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(epoch_us(ts)) AS BIGINT) AS min_us,
       CAST(max(epoch_us(ts)) AS BIGINT) AS max_us
FROM events
WHERE ts > TIMESTAMP '2024-01-16 00:00:00'
GROUP BY event_type
""",
    "T4 timestamp cursor (sources.py:266-272 semantics, minus the string "
    "interpolation): incremental predicate as a pushed-down Column filter; "
    "a real run feeds last_run_ts from the ledger",
)
def q_t4_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.sources.relational import incremental_by_timestamp

    ev = load_table(spark, sf_dir, "events")
    inc = incremental_by_timestamp(ev, "ts", "2024-01-16 00:00:00")
    return inc.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.min(F.unix_micros("ts")).cast("long").alias("min_us"),
        F.max(F.unix_micros("ts")).cast("long").alias("max_us"),
    )


@register(
    "t3_state_merge",
    """
WITH d AS (SELECT doc_id, text FROM documents
           WHERE length(trim(text, e' \\n\\r\\t')) > 0),
cur AS (
  SELECT CAST(doc_id AS VARCHAR) AS item_id,
         sha256(CASE WHEN doc_id % 5 = 0 THEN text || '!' ELSE text END)
           AS content_hash
  FROM d WHERE doc_id % 2 = 0
),
st AS (
  SELECT CAST(doc_id AS VARCHAR) AS item_id, sha256(text) AS content_hash
  FROM d WHERE doc_id % 3 = 0
)
SELECT item_id, content_hash FROM cur
UNION ALL
SELECT s.item_id, s.content_hash FROM st s
WHERE NOT EXISTS (SELECT 1 FROM cur c WHERE c.item_id = s.item_id)
""",
    "T3 ledger upsert (MERGE emulation): batch rows supersede prior entries, "
    "untouched entries carry over",
)
def q_t3_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.state import merge_ledger

    docs = load_table(spark, sf_dir, "documents").filter(non_empty(F.col("text")))
    cur_text = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit("!"))
    ).otherwise(F.col("text"))
    processed = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").cast("string").alias("item_id"),
        sha256_text(cur_text).alias("content_hash"),
    )
    prior = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").cast("string").alias("item_id"),
        sha256_text(F.col("text")).alias("content_hash"),
    )
    return merge_ledger(processed, prior)


# ---------------------------------------------------------------------------
# S4: PostgreSQLSource semantics (sources.py:237-308) — timestamp cursor +
# first-column-as-content positional projection
# ---------------------------------------------------------------------------


@register(
    "s4_events_content",
    """
SELECT CAST(event_type AS VARCHAR) AS content, event_id, user_id, value,
       'postgres://synthetic/events' AS source
FROM events WHERE ts > TIMESTAMP '2024-01-20'
""",
    "S4 JDBC source: cursor predicate + first-col-as-content projection",
)
def q_s4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.sources.relational import (
        first_col_as_content,
        incremental_by_timestamp,
    )

    ev = load_table(spark, sf_dir, "events")
    ev = incremental_by_timestamp(ev, "ts", "2024-01-20")
    proj = ev.select("event_type", "event_id", "user_id", "value")
    return first_col_as_content(proj, "postgres://synthetic/events")


# ---------------------------------------------------------------------------
# S2: WebSource line normalization (sources.py:134-137)
@register(
    "s1_parse_eml",
    f"""
WITH built AS (
  SELECT doc_id, lang,
         'Doc ' || CAST(doc_id AS VARCHAR) || ' report' || e'\\n\\n' || text
           AS joined
  FROM documents
),
parsed AS (
  SELECT doc_id, lang,
         array_to_string({_DK_ELS.format(src="joined")}, e'\\n\\n') AS parsed
  FROM built
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN length(parsed) > 0
                     THEN len(string_split(parsed, e'\\n\\n')) ELSE 0 END)
            AS BIGINT) AS n_elements,
       CAST(count(DISTINCT md5(parsed)) AS BIGINT) AS n_uniq,
       round(avg(length(parsed)), 4) AS avg_len
FROM parsed GROUP BY lang
""",
    "S1 parse seam for .eml, ORACLE-CHECKED end to end (golden tests "
    "already pin tricky MIME; this pins the whole distributed path): a "
    "complete RFC-822 message is BUILT per doc in Catalyst (headers + "
    "declared utf-8 text/plain body from the documents text, including "
    "non-ASCII zh), the raw bytes run through the REAL stdlib email "
    "extractor (subject element + decoded body) and the shared blank-line "
    "normalization, and the oracle recomputes the expected parse as "
    "elements of 'subject \\n\\n body' — a header-parse or "
    "charset-decode bug hash-mismatches.",
)
def q_s1_parse_eml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.sources.parsers import parse_eml

    from yaml_pipe_spark.session import spread_for_expansion

    # the documents scan arrives as ONE split at bench scale; the per-doc
    # Python build+parse would otherwise run serially on a single task
    docs = spread_for_expansion(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    raw = F.encode(
        F.concat(
            F.lit("Subject: Doc "),
            F.col("doc_id").cast("string"),
            F.lit(" report\r\n"),
            F.lit("From: gen@example.com\r\n"),
            F.lit("MIME-Version: 1.0\r\n"),
            F.lit("Content-Type: text/plain; charset=utf-8\r\n"),
            F.lit("Content-Transfer-Encoding: 8bit\r\n\r\n"),
            F.col("text"),
        ),
        "UTF-8",
    )
    return _parse_rollup(docs.withColumn("parsed", parse_eml(raw)))


@register(
    "s1_parse_pptx",
    f"""
WITH parsed AS (
  SELECT doc_id, lang,
         array_to_string({_DK_ELS.format(src="text")}, e'\\n\\n') AS parsed
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN length(parsed) > 0
                     THEN len(string_split(parsed, e'\\n\\n')) ELSE 0 END)
            AS BIGINT) AS n_elements,
       CAST(count(DISTINCT md5(parsed)) AS BIGINT) AS n_uniq,
       round(avg(length(parsed)), 4) AS avg_len
FROM parsed GROUP BY lang
""",
    "S1 parse seam for .pptx, ORACLE-CHECKED end to end: a complete OOXML "
    "presentation (zip + slide XML, document text as an escaped DrawingML "
    "run) is built per doc in the same Arrow mapInPandas shape as any "
    "binary ingest, the real zipfile+ElementTree extractor pulls the "
    "slide text back out, and the shared blank-line normalization must "
    "reproduce exactly the elements of the original text — a zip-layout, "
    "XML-escaping, or run-joining bug hash-mismatches.",
)
def q_s1_parse_pptx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from typing import Iterator

    import pandas as pd

    from yaml_pipe_spark.sources.parsers import parse_pptx

    def build(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io
        import zipfile
        from xml.sax.saxutils import escape

        a = "http://schemas.openxmlformats.org/drawingml/2006/main"
        p = "http://schemas.openxmlformats.org/presentationml/2006/main"
        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                xml = (
                    f'<?xml version="1.0"?><p:sld xmlns:p="{p}" '
                    f'xmlns:a="{a}"><p:cSld><p:spTree><a:p><a:r>'
                    f'<a:t>{escape(text or "")}</a:t>'
                    f"</a:r></a:p></p:spTree></p:cSld></p:sld>"
                )
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as zf:
                    zf.writestr("ppt/slides/slide1.xml", xml)
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "raw": payloads,
                }
            )

    from yaml_pipe_spark.session import spread_for_expansion

    # the documents scan arrives as ONE split at bench scale; the per-doc
    # Python build+parse would otherwise run serially on a single task
    docs = spread_for_expansion(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    built = docs.mapInPandas(build, "doc_id long, lang string, raw binary")
    return _parse_rollup(built.withColumn("parsed", parse_pptx(F.col("raw"))))


def _parse_rollup(parsed: DataFrame) -> DataFrame:
    """Shared rollup for the end-to-end parser oracles: per-lang doc,
    element, distinct-hash, and length stats over a `parsed` column."""
    n_els = F.when(
        F.length("parsed") > 0, F.size(F.split(F.col("parsed"), "\n\n"))
    ).otherwise(F.lit(0))
    return parsed.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(n_els).cast("long").alias("n_elements"),
        F.countDistinct(F.md5("parsed")).cast("long").alias("n_uniq"),
        F.round(F.avg(F.length("parsed")), 4).alias("avg_len"),
    )


_PARSE_ROUNDTRIP_ORACLE = f"""
WITH parsed AS (
  SELECT doc_id, lang,
         array_to_string({_DK_ELS.format(src="text")}, e'\\n\\n') AS parsed
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN length(parsed) > 0
                     THEN len(string_split(parsed, e'\\n\\n')) ELSE 0 END)
            AS BIGINT) AS n_elements,
       CAST(count(DISTINCT md5(parsed)) AS BIGINT) AS n_uniq,
       round(avg(length(parsed)), 4) AS avg_len
FROM parsed GROUP BY lang
"""


@register(
    "s1_parse_docx",
    _PARSE_ROUNDTRIP_ORACLE,
    "S1 parse seam for .docx, ORACLE-CHECKED end to end: a complete OOXML "
    "wordprocessing doc (zip + document.xml, the text as an escaped w:t "
    "run) is built per doc, the real zipfile+ElementTree extractor pulls "
    "it back out, and the normalization must reproduce the elements of "
    "the original text exactly.",
)
def q_s1_parse_docx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from typing import Iterator

    import pandas as pd

    from yaml_pipe_spark.sources.parsers import parse_docx

    def build(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io
        import zipfile
        from xml.sax.saxutils import escape

        w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                xml = (
                    f'<?xml version="1.0"?><w:document xmlns:w="{w}">'
                    f'<w:body><w:p><w:r><w:t xml:space="preserve">'
                    f'{escape(text or "")}</w:t></w:r></w:p>'
                    f"</w:body></w:document>"
                )
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as zf:
                    zf.writestr("word/document.xml", xml)
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "lang": pdf["lang"],
                 "raw": payloads}
            )

    from yaml_pipe_spark.session import spread_for_expansion

    # the documents scan arrives as ONE split at bench scale; the per-doc
    # Python build+parse would otherwise run serially on a single task
    docs = spread_for_expansion(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    built = docs.mapInPandas(build, "doc_id long, lang string, raw binary")
    return _parse_rollup(built.withColumn("parsed", parse_docx(F.col("raw"))))


@register(
    "s1_parse_pdf",
    _PARSE_ROUNDTRIP_ORACLE,
    "S1 parse seam for .pdf, ORACLE-CHECKED end to end: a complete PDF "
    "(catalog/pages/page objects + an uncompressed content stream whose "
    "BT block carries the document text as a UTF-16BE hex string — the "
    "encoding that survives any character, including zh) is built per "
    "doc, the real stdlib extractor (stream walk, BT/ET operator parse, "
    "hex-string + BOM decode) pulls the text back out, and the "
    "normalization must reproduce the elements of the original text "
    "exactly — an offset, operator-parse, or UTF-16 bug hash-mismatches.",
)
def q_s1_parse_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from typing import Iterator

    import pandas as pd

    from yaml_pipe_spark.sources.parsers import parse_pdf

    def build(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                hx = (
                    b"\xfe\xff" + (text or "").encode("utf-16-be")
                ).hex().encode()
                body = b"BT <" + hx + b"> Tj ET"
                parts = [
                    b"%PDF-1.4\n",
                    b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
                    b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n"
                    b"endobj\n",
                    b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
                    b" >>\nendobj\n",
                    b"4 0 obj\n<< /Length " + str(len(body)).encode()
                    + b" >>\nstream\n" + body + b"\nendstream\nendobj\n",
                    b"trailer\n<< /Root 1 0 R >>\n%%EOF\n",
                ]
                payloads.append(b"".join(parts))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "lang": pdf["lang"],
                 "raw": payloads}
            )

    from yaml_pipe_spark.session import spread_for_expansion

    # the documents scan arrives as ONE split at bench scale; the per-doc
    # Python build+parse would otherwise run serially on a single task
    docs = spread_for_expansion(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    built = docs.mapInPandas(build, "doc_id long, lang string, raw binary")
    return _parse_rollup(built.withColumn("parsed", parse_pdf(F.col("raw"))))


@register(
    "s1_parse_epub",
    _PARSE_ROUNDTRIP_ORACLE,
    "S1 parse seam for .epub, ORACLE-CHECKED end to end: a complete EPUB "
    "container (zip with META-INF/container.xml -> OPF manifest/spine -> "
    "an XHTML content document carrying the text as an escaped <p>) is "
    "built per doc, the real zipfile+ElementTree extractor walks "
    "container -> rootfile -> spine -> block elements to pull the text "
    "back out, and the shared normalization must reproduce the elements "
    "of the original text exactly — a container-path, spine-order, or "
    "XHTML-walk bug hash-mismatches.",
)
def q_s1_parse_epub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from typing import Iterator

    import pandas as pd

    from yaml_pipe_spark.sources.parsers import parse_epub

    def build(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io
        import zipfile
        from xml.sax.saxutils import escape

        container = (
            '<?xml version="1.0"?>'
            '<container version="1.0" xmlns="urn:oasis:names:tc:'
            'opendocument:xmlns:container"><rootfiles>'
            '<rootfile full-path="OEBPS/content.opf" '
            'media-type="application/oebps-package+xml"/>'
            "</rootfiles></container>"
        )
        opf = (
            '<?xml version="1.0"?>'
            '<package xmlns="http://www.idpf.org/2007/opf" version="3.0">'
            "<manifest>"
            '<item id="ch1" href="ch1.xhtml" '
            'media-type="application/xhtml+xml"/>'
            "</manifest>"
            '<spine><itemref idref="ch1"/></spine></package>'
        )
        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                xhtml = (
                    '<?xml version="1.0"?>'
                    '<html xmlns="http://www.w3.org/1999/xhtml"><body>'
                    f'<p>{escape(text or "")}</p>'
                    "</body></html>"
                )
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as zf:
                    zf.writestr("mimetype", "application/epub+zip")
                    zf.writestr("META-INF/container.xml", container)
                    zf.writestr("OEBPS/content.opf", opf)
                    zf.writestr("OEBPS/ch1.xhtml", xhtml)
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "lang": pdf["lang"],
                 "raw": payloads}
            )

    from yaml_pipe_spark.session import spread_for_expansion

    # the documents scan arrives as ONE split at bench scale; the per-doc
    # Python build+parse would otherwise run serially on a single task
    docs = spread_for_expansion(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    built = docs.mapInPandas(build, "doc_id long, lang string, raw binary")
    return _parse_rollup(built.withColumn("parsed", parse_epub(F.col("raw"))))


# ---------------------------------------------------------------------------


@register(
    "s2_normalize_lines",
    """
SELECT doc_id,
       sha256(array_to_string(list_filter(
         list_transform(string_split(text, chr(10)), x -> trim(x)),
         x -> length(x) > 0), chr(10))) AS norm_hash,
       CAST(len(list_filter(
         list_transform(string_split(text, chr(10)), x -> trim(x)),
         x -> length(x) > 0)) AS BIGINT) AS n_lines
FROM documents
""",
    "S2 WebSource text cleanup: strip lines, drop blanks, re-join",
)
def q_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.functions.text import normalize_lines

    docs = load_table(spark, sf_dir, "documents")
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    return docs.select(
        "doc_id",
        sha256_text(normalize_lines(F.col("text"))).alias("norm_hash"),
        F.size(lines).cast("long").alias("n_lines"),
    )


S2_MULTI_FETCH_ORACLE = """
SELECT doc_id, sha256(text) AS content_hash,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
WHERE doc_id % 17 = 0
"""


@register(
    "s2_multi_fetch",
    S2_MULTI_FETCH_ORACLE,
    "S2 multi-URL crawl fan-out (VERDICT r7 ask #6): the documents subset "
    "is staged as local files, their file:// URLs (plus three dead links) "
    "become a URL DataFrame, and sources.web.fetch_urls GETs them on the "
    "EXECUTORS via an Arrow pandas UDF with the reference's per-URL "
    "error->empty rule (sources.py:142-147) — the dead links drop, every "
    "live URL's bytes round-trip. The oracle recomputes content hashes "
    "from the raw documents table, so a fetch that corrupted, truncated, "
    "or re-encoded even one byte hash-mismatches. The file:// staging is "
    "the container-local test vehicle; the operator itself is "
    "scheme-agnostic (http crawls use the same path).",
)
def q_s2_multi_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from yaml_pipe_spark.sources.web import fetch_urls

    staged = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 0)
        .select("doc_id", "text")
        .collect()  # small by construction: n_docs/17 rows to stage
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        "yps_s2fetch_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    os.makedirs(stage, exist_ok=True)
    for r in staged:
        path = os.path.join(stage, f"doc_{r['doc_id']}.txt")
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(r["text"])
    urls = [(f"file://{stage}/doc_{r['doc_id']}.txt",) for r in staged]
    urls += [(f"file://{stage}/missing_{i}.txt",) for i in range(3)]
    fetched = fetch_urls(
        spark.createDataFrame(urls, "url string"), "url", timeout=5.0
    )
    return fetched.select(
        F.regexp_extract("url", r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.sha2(F.col("content"), 256).alias("content_hash"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )


# ---------------------------------------------------------------------------
# C3: adaptive chunker dispatch (chunkers.py:141-183) — per-row strategy
# choice: markdown iff >= 2 header markers, else fixed-window
# ---------------------------------------------------------------------------


@register(
    "c3_adaptive_chunk",
    r"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE length(trim(text, e' \n\r\t')) > 0
),
cls AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, '\n# ')) >= 2
         OR len(regexp_extract_all(text, '\n## ')) >= 2
         OR len(regexp_extract_all(text, '\n### ')) >= 2 AS is_md
  FROM docs
),
md AS (
  SELECT doc_id, len(list_filter(
    string_split(regexp_replace(text, '(?m)^(#{1,3} )', e'\x01\1', 'g'),
                 e'\x01'),
    x -> length(trim(x, e' \n\r\t')) > 0)) AS n
  FROM cls WHERE is_md
),
fx AS (
  SELECT doc_id, len(generate_series(1, length(text), 160)) AS n
  FROM cls WHERE NOT is_md
)
SELECT doc_id, 'markdown' AS strategy, CAST(n AS BIGINT) AS n_chunks FROM md
UNION ALL
SELECT doc_id, 'fixed' AS strategy, CAST(n AS BIGINT) AS n_chunks FROM fx
""",
    "C3 adaptive dispatch: per-doc strategy + chunk count from that branch",
)
def q_c3_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.chunkers import adaptive_chunks, is_markdownish

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(non_empty(F.col("text")))
    )
    chunks = adaptive_chunks(docs, "text", 200, 40, id_cols=["doc_id"])
    counts = chunks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks")
    )
    strat = docs.select(
        "doc_id",
        F.when(is_markdownish(F.col("text")), F.lit("markdown"))
        .otherwise(F.lit("fixed"))
        .alias("strategy"),
    )
    return counts.join(strat, "doc_id").select("doc_id", "strategy", "n_chunks")


# ---------------------------------------------------------------------------
# P3: the full pipeline as ONE plan — scan -> empty-filter -> chunk ->
# embed -> sink projection (the reference's 4 materialization barriers
# collapsed into a single lazy chain, SURVEY §3.1)
# ---------------------------------------------------------------------------

_DK_EMB_DIM = (
    "round(((strpos('0123456789abcdef', substr(md5('{d}:' || chunk), 1, 1)) - 1)"
    " * 16 + (strpos('0123456789abcdef', substr(md5('{d}:' || chunk), 2, 1)) - 1))"
    " / 255.0 * 2 - 1, 6)"
)


@register(
    "pipeline_full",
    f"""
WITH docs AS (
  SELECT doc_id, source, text FROM documents WHERE length(trim(text, e' \n\r\t')) > 0
),
starts AS (
  SELECT doc_id, source, text,
         UNNEST(generate_series(1, length(text), 160)) AS s
  FROM docs
),
chunks AS (
  SELECT doc_id, source, (s - 1) // 160 + 1 AS chunk_index,
         substr(text, CAST(s AS INT), 200) AS chunk
  FROM starts
)
SELECT doc_id, source, chunk_index, sha256(chunk) AS chunk_hash,
       {_DK_EMB_DIM.format(d=1)} AS e1,
       {_DK_EMB_DIM.format(d=2)} AS e2,
       {_DK_EMB_DIM.format(d=3)} AS e3,
       {_DK_EMB_DIM.format(d=4)} AS e4
FROM chunks
""",
    "P3 run_pipeline as one lazy chain: scan+filter+chunk+embed+project",
)
def q_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.functions.hashing import hash_embedding

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    chunks = fixed_window_chunks(docs, "text", chunk_size=200, chunk_overlap=40)
    emb = hash_embedding(F.col("chunk"), dim=4)
    out = chunks.withColumn("__e", emb)
    return out.select(
        "doc_id",
        "source",
        "chunk_index",
        sha256_text(F.col("chunk")).alias("chunk_hash"),
        *[F.element_at(F.col("__e"), i).alias(f"e{i}") for i in range(1, 5)],
    )


# ---------------------------------------------------------------------------
# C1 langchain-parity chunker. The recursive splitter is Python (pandas UDF)
# and its output on arbitrary text is not SQL-expressible — arbitrary-text
# parity stays golden-string pinned against the reference's chunks
# (tests/test_chunkers.py vs reference tests/components/test_chunkers.py:19-26).
# The driver row instead runs the REAL splitter over a deterministic
# fixed-token corpus where the recursion collapses to a closed form the
# oracle reconstructs exactly:
#   - tokens are 7-char md5 prefixes (never contain whitespace), joined by
#     single spaces into paragraphs of n = doc_id%23+7 tokens, p = doc_id%3+1
#     paragraphs joined by "\n\n";
#   - every paragraph is >= 55 chars > chunk_size=50, so the splitter always
#     recurses paragraph -> (newline) -> word and never merges across
#     paragraph boundaries;
#   - with piece lengths 7/8/9 (first word, " word", "\n\nword") and
#     chunk_size=50 / overlap=10, the merge loop admits exactly 6 tokens per
#     chunk and keeps exactly 1 overlap token, i.e. chunk k of a paragraph
#     covers tokens [5(k-1)+1, min(5k+1, n)] — verified exhaustively against
#     recursive_split for 500 doc_ids (tests/test_chunkers.py).
# ---------------------------------------------------------------------------

C1_RECURSIVE_ORACLE = """
WITH d AS (
  SELECT doc_id, (doc_id % 23) + 7 AS n, (doc_id % 3) + 1 AS p
  FROM documents
),
pj AS (
  SELECT doc_id, n,
         UNNEST(generate_series(1, p)) AS j,
         1 + CAST(ceil((n - 6) / 5.0) AS BIGINT) AS m
  FROM d
),
ck AS (
  SELECT doc_id, n, j, m, UNNEST(generate_series(1, m)) AS k
  FROM pj
),
s AS (
  SELECT doc_id, (j - 1) * m + k AS chunk_index,
         array_to_string(
           list_transform(
             generate_series(5 * (k - 1) + 1, least(5 * k + 1, n)),
             i -> substr(md5(doc_id::VARCHAR || ':' || j::VARCHAR || ':'
                             || i::VARCHAR), 1, 7)),
           ' ') AS chunk
  FROM ck
)
SELECT doc_id, chunk_index, sha256(chunk) AS chunk_hash,
       CAST(length(chunk) AS BIGINT) AS chunk_len
FROM s
"""


@register(
    "c1_recursive_chunk",
    C1_RECURSIVE_ORACLE,
    "C1 parity chunker (langchain-style recursive splitter, pandas UDF) run "
    "over a deterministic fixed-token corpus whose paragraph->word recursion "
    "the oracle reconstructs in closed form; arbitrary-text parity is "
    "golden-string validated in tests/test_chunkers.py",
)
def q_c1_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.chunkers import recursive_character_chunks

    doc_id = F.col("doc_id")

    def tok(j: Column, i: Column) -> Column:
        key = F.concat_ws(
            ":", doc_id.cast("string"), j.cast("string"), i.cast("string")
        )
        return F.substring(F.md5(key), 1, 7)

    n = (doc_id % 23 + 7).cast("int")
    p = (doc_id % 3 + 1).cast("int")

    def para(j: Column) -> Column:
        return F.array_join(
            F.transform(F.sequence(F.lit(1), n), lambda i: tok(j, i)), " "
        )

    corpus = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn(
            "text", F.array_join(F.transform(F.sequence(F.lit(1), p), para), "\n\n")
        )
    )
    out = recursive_character_chunks(corpus, "text", chunk_size=50, chunk_overlap=10)
    return out.select(
        "doc_id",
        "chunk_index",
        sha256_text(F.col("chunk")).alias("chunk_hash"),
        F.length("chunk").cast("long").alias("chunk_len"),
    )


@register(
    "sink_partition_skew_audit",
    """
WITH p AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS est_bytes
  FROM documents GROUP BY 1, 2
),
t AS (SELECT sum(est_bytes) AS total, avg(est_bytes) AS mean_bytes FROM p)
SELECT p.lang, p.source, p.n_docs, p.est_bytes,
       round(p.est_bytes / CAST(t.total AS DOUBLE), 6) AS pct_of_total,
       CAST(p.est_bytes < 0.5 * t.mean_bytes AS INT) AS small_flag
FROM p, t
""",
    "Pre-write layout audit for a dynamic-partition parquet sink: "
    "per-(lang, source) partition sizes (n_chars as the byte proxy), "
    "share of total, and a small-partition flag at half the mean — the "
    "check that catches the small-files problem BEFORE a 100 TB write "
    "fans out into millions of tiny objects (the fix being partition "
    "coalescing or a coarser partition spec, operators/sinks.py). One "
    "tiny two-level rollup + a broadcast scalar join.",
)
def q_sink_partition_skew_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars"
    )
    p = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("est_bytes"),
    )
    t = p.agg(
        F.sum("est_bytes").alias("total"),
        F.avg("est_bytes").alias("mean_bytes"),
    )
    return p.crossJoin(F.broadcast(t)).select(
        "lang",
        "source",
        "n_docs",
        "est_bytes",
        F.round(
            F.col("est_bytes") / F.col("total").cast("double"), 6
        ).alias("pct_of_total"),
        (F.col("est_bytes") < 0.5 * F.col("mean_bytes"))
        .cast("int")
        .alias("small_flag"),
    )


@register(
    "s1_parse_warc",
    _PARSE_ROUNDTRIP_ORACLE,
    "S1 parse seam for .warc.gz, ORACLE-CHECKED end to end: a complete "
    "gzipped WARC file per doc (warcinfo record + a response record whose "
    "payload is a full HTTP message carrying the text as its UTF-8 body, "
    "ISO 28500 framing with exact Content-Length accounting), the real "
    "stdlib extractor (sources/warc.py: gzip sniff, record walk, "
    "non-response skip, HTTP header strip) pulls the text back out, and "
    "the normalization must reproduce the elements of the original text "
    "exactly — the Common Crawl ingest format, so a framing or "
    "byte-accounting bug here is a 100 TB ingest bug.",
)
def q_s1_parse_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import gzip
    from typing import Iterator

    import pandas as pd

    from yaml_pipe_spark.sources.parsers import parse_warc

    def build(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        def rec(rtype: bytes, payload: bytes, extra: bytes = b"") -> bytes:
            return (
                b"WARC/1.0\r\nWARC-Type: " + rtype + b"\r\n" + extra
                + b"Content-Length: " + str(len(payload)).encode()
                + b"\r\n\r\n" + payload + b"\r\n\r\n"
            )

        for pdf in it:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = (text or "").encode("utf-8")
                http = (
                    b"HTTP/1.1 200 OK\r\n"
                    b"Content-Type: text/plain; charset=utf-8\r\n\r\n"
                    + body
                )
                raw = rec(b"warcinfo", b"software: yaml-pipe-spark\r\n") + rec(
                    b"response",
                    http,
                    b"WARC-Target-URI: http://corpus/doc/"
                    + str(int(doc_id)).encode() + b"\r\n",
                )
                payloads.append(gzip.compress(raw, mtime=0))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "lang": pdf["lang"],
                 "raw": payloads}
            )

    from yaml_pipe_spark.session import spread_for_expansion

    # the documents scan arrives as ONE split at bench scale; the per-doc
    # Python build+parse would otherwise run serially on a single task
    docs = spread_for_expansion(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    built = docs.mapInPandas(build, "doc_id long, lang string, raw binary")
    return _parse_rollup(built.withColumn("parsed", parse_warc(F.col("raw"))))


@register(
    "s1_parse_tar",
    _PARSE_ROUNDTRIP_ORACLE,
    "S1 parse seam for .tar, ORACLE-CHECKED end to end: a deterministic "
    "tar archive per doc (pinned mtime/uid, a text member carrying the "
    "document plus a json sidecar the extractor must skip — the "
    "WebDataset sample layout), the real stdlib extractor "
    "(sources/tar.py: tarfile walk, name-ordered text members) pulls the "
    "text back out, and the normalization must reproduce the elements of "
    "the original text exactly.",
)
def q_s1_parse_tar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from typing import Iterator

    import pandas as pd

    from yaml_pipe_spark.sources.parsers import parse_tar
    from yaml_pipe_spark.sources.tar import build_tar

    def build(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads = [
                build_tar(
                    {
                        f"{int(doc_id):08d}.txt": (text or "").encode(
                            "utf-8"
                        ),
                        f"{int(doc_id):08d}.json": b'{"source": "tar"}',
                    }
                )
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "lang": pdf["lang"],
                 "raw": payloads}
            )

    from yaml_pipe_spark.session import spread_for_expansion

    # the documents scan arrives as ONE split at bench scale; the per-doc
    # Python build+parse would otherwise run serially on a single task
    docs = spread_for_expansion(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    built = docs.mapInPandas(build, "doc_id long, lang string, raw binary")
    return _parse_rollup(built.withColumn("parsed", parse_tar(F.col("raw"))))


@register(
    "sql_udtf_chunk",
    """
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE length(trim(text, e' \\n\\r\\t')) > 0 AND doc_id % 7 = 0
),
starts AS (
  SELECT doc_id, text,
         UNNEST(generate_series(1, length(text), 48)) AS s
  FROM base
)
SELECT doc_id,
       CAST((s - 1) / 48 + 1 AS BIGINT) AS chunk_index,
       substr(text, s, 64) AS chunk
FROM starts
""",
    "Python UDTF registration surface (functions/udtfs.py, closing the "
    "SURVEY §2.9 'UDTF registration' gap): the fixed-window chunker "
    "registered as a named SQL table function and invoked via LATERAL "
    "from spark.sql — the reference's hardcoded chunk expansion made a "
    "first-class, composable table function. Arrow-batched (useArrow); "
    "semantics mirror operators/chunkers.py::fixed_window_chunks exactly, "
    "so the fixed-window DuckDB twin oracles the registered surface end "
    "to end. Documented slow path: anything Catalyst-expressible stays "
    "Catalyst (the production chunkers are plan-asserted UDF-free); this "
    "surface is for expansions that genuinely need Python.",
)
def q_sql_udtf_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from yaml_pipe_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    path = os.path.join(sf_dir, "documents.parquet")
    spark.read.parquet(path).createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_index, c.chunk
        FROM __udtf_docs d,
        LATERAL fixed_window_chunks(d.text, 64, 16) c
        WHERE d.doc_id % 7 = 0
        """
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten at the USER surface (VERDICT r10 ask #7): the store-
# level forget rows (ann_index_forget / q3_bm25_forget) attest each arm's
# purge in isolation; this row drives the actual `forget` CLI composition —
# sink partition surgery + hybrid index purge + the staleness-gate
# reconciliation (cli.py::cmd_forget) — and oracles the OUTCOME against the
# rebuild-without-the-source corpus: remaining row/source counts and an
# order-free 60-bit XOR content fingerprint recomputed by DuckDB from the
# documents table minus the forgotten sources, plus the per-arm freshness
# proof (is_stale(remaining) must be False for both stores after the
# reconciliation, pinned as constant TRUE columns).
# ---------------------------------------------------------------------------

PIPELINE_FORGET_ORACLE = """
WITH corpus AS (
  SELECT source, text FROM documents WHERE doc_id < 1000
),
gone AS (
  SELECT source, text FROM corpus WHERE source IN ('src7', 'src19')
),
keep AS (
  SELECT source, text FROM corpus WHERE source NOT IN ('src7', 'src19')
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM gone) AS sink_rows_removed,
       (SELECT CAST(count(DISTINCT source || chr(31) || text) AS BIGINT)
          FROM gone) AS index_rows_removed,
       (SELECT CAST(count(*) AS BIGINT) FROM keep) AS n_remaining,
       (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM keep)
         AS n_sources_remaining,
       (SELECT bit_xor(CAST(('0x' || substr(md5(source || chr(31) || text),
                                            1, 15)) AS BIGINT))
          FROM keep) AS remaining_fp,
       TRUE AS vector_fresh,
       TRUE AS lexical_fresh
"""


@register(
    "pipeline_forget_e2e",
    PIPELINE_FORGET_ORACLE,
    "The `forget` CLI end to end (cli.py::cmd_forget): corpus written to a "
    "source-partitioned ParquetSink, hybrid_rrf (IVF-PQ + BM25) indexes "
    "built, then `forget src7 src19` — sink delete is partition-directory "
    "surgery, both persisted stores purge physically (deletion vectors / "
    "bucket rewrite), and the reconciliation rebuilds whatever cannot "
    "compose (e.g. a forgotten centroid seed). The returned row is the "
    "POST-forget state read back from the sink (counts + XOR fingerprint "
    "— DuckDB recomputes them from documents minus the sources) plus the "
    "CLI report numbers and the per-arm staleness proof. Idempotent per "
    "rep: the sink rewrite re-adds the sources, an `is_stale` check "
    "re-appends them to the stores, and the forget replays. 100 TB shape: "
    "every step is deletion-proportional (partition surgery, tombstones, "
    "bucket rewrites), never corpus-linear.",
)
def q_pipeline_forget_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import json
    import os
    from contextlib import redirect_stdout

    from yaml_pipe_spark import cli
    from yaml_pipe_spark.functions.hashing import hash_embedding
    from yaml_pipe_spark.operators.sinks import ParquetSink
    from yaml_pipe_spark.retrievers import HybridRrfRetriever, unique_by_id

    # Right-size the shuffle width to the capped corpus for the ~25
    # EAGER actions this composition runs internally (the 100 TB sizing
    # rule applied downward): on a 1000-doc store, 32-wide shuffles pay
    # 4x the task-scheduling latency and write 4x the store files for
    # zero parallelism gain — measured in-bench 33.3 s -> ~20 s at width
    # 8. The session width is restored before returning; the returned
    # DataFrame's single final aggregate is the only action that runs
    # after it.
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _pipeline_forget_e2e_body(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)


def _pipeline_forget_e2e_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import json
    import os
    from contextlib import redirect_stdout

    from yaml_pipe_spark import cli
    from yaml_pipe_spark.functions.hashing import hash_embedding
    from yaml_pipe_spark.operators.sinks import ParquetSink
    from yaml_pipe_spark.retrievers import HybridRrfRetriever, unique_by_id

    base = os.path.join(
        "spark-warehouse",
        f"forget_e2e_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    os.makedirs(base, exist_ok=True)
    sink_path = os.path.join(base, "sink")
    vec_cfg = {
        "path": os.path.join(base, "vec"),
        "n_cells": 8,
        "nprobe": 2,
        "rerank_m": 20,
    }
    lex_cfg = {"path": os.path.join(base, "lex")}
    cfg_path = os.path.join(base, "pipeline.yaml")
    with open(cfg_path, "w") as f:
        f.write(
            f"""
source:
  type: local_files
  config: {{path: "{base}", glob_pattern: "**/*.txt"}}
chunker:
  type: fixed_window
  config: {{chunk_size: 400, chunk_overlap: 0}}
embedder:
  type: hash
  config: {{dim: 8}}
sink:
  type: parquet
  config: {{path: "{sink_path}"}}
retriever:
  type: hybrid_rrf
  config:
    vector: {{path: "{vec_cfg['path']}", n_cells: 8, nprobe: 2, rerank_m: 20}}
    lexical: {{path: "{lex_cfg['path']}"}}
"""
        )

    # doc_id < 1000 bounds the row's bench cost sf-independently; the
    # oracle applies the identical predicate. src7/src19 avoid the IVF
    # centroid seed rows at every sandbox SF, so the reconciliation's
    # rebuild path stays cold on repeat runs — a perf choice only: a data
    # regen that moves a seed into the forgotten set just flips the run
    # onto the (equally correct, oracle-identical) rebuild path.
    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select("doc_id", "source", "text")
        .withColumn("embedding", hash_embedding(F.col("text"), dim=8))
    )
    sink = ParquetSink(sink_path)
    sink.write(corpus)
    retr = HybridRrfRetriever(vector=dict(vec_cfg), lexical=dict(lex_cfg))
    full = unique_by_id(sink.read(spark)).localCheckpoint()
    if retr.is_stale(full):
        # pre-forget indexes must exist. Warm path: the stores hold the
        # previous rep's post-forget state, so re-APPENDING the forgotten
        # slice composes them back to the full corpus (generation-scoped
        # tombstones make a forgotten-then-re-appended doc serve again) —
        # increment-proportional instead of two full rebuilds per rep.
        # ~100 rows: one write task, not one file per checkpoint
        # partition per store bucket (at local[32] the un-coalesced
        # append wrote ~32x the files for zero parallelism gain)
        prev_gone = full.filter(
            F.col("source").isin(["src7", "src19"])
        ).coalesce(1)
        maintained = False
        try:
            # the arms maintain DISJOINT stores: submit each arm's WHOLE
            # maintenance chain (append, then its own compact) as one
            # concurrent job chain (guide §2.6). r13 ran the two appends,
            # a barrier, then the two compacts — but a store's compact
            # depends only on ITS OWN append, so the barrier made the
            # faster arm idle while the slower arm finished appending.
            # Compaction is in the chain because the rep cycle is
            # append+forget forever: without it the stores accumulate one
            # file set per rep and every later rep pays the growing
            # per-file open cost.
            def _vec_chain():
                retr.vector.store.append(
                    prev_gone.select("__id", "embedding")
                )
                retr.vector.store.compact()

            def _lex_chain():
                retr.lexical.store.append(prev_gone.select("__id", "text"))
                retr.lexical.store.compact(min_files=1)

            run_wave(_vec_chain, _lex_chain)
            maintained = True
        except Exception:
            pass  # never built / crashed layout: fall through to build
        # a SUCCESSFUL append chain is fresh BY COMPOSITION (the exact
        # XOR fingerprint arithmetic the store tests pin), so the warm
        # path skips the second staleness scan here (VERDICT r12 ask #5
        # — one proof per phase pair, not one per phase). If that
        # composition were ever violated, cmd_forget's own
        # is_stale(remaining) reconciliation below still catches and
        # rebuilds it — the e2e outcome cannot silently serve stale.
        if not maintained and retr.is_stale(full):
            retr.build(full)

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(["forget", "src7", "src19", "-c", cfg_path])
    assert rc == 0, buf.getvalue()
    report = json.loads(buf.getvalue().strip().splitlines()[-1])

    remaining = sink.read(spark)
    check = HybridRrfRetriever(vector=dict(vec_cfg), lexical=dict(lex_cfg))
    # Per-arm freshness proof, with the CLI's OWN reconciliation gate as
    # the witness (r14 cross-phase fold): cmd_forget just evaluated
    # is_stale(remaining) = any(gate stale flags) over the identical
    # sink + store state (same process, nothing touched either since),
    # so index_rebuilt == False proves BOTH arms fresh — re-running the
    # two-job staleness wave here re-derived a value the rep already
    # computed. The one path where the gate is NOT the post-state proof
    # (the CLI rebuilt, so its pre-rebuild verdict was stale) re-probes
    # explicitly, keeping the declared semantics — the POST-
    # reconciliation per-arm proof — bit-identical.
    if report.get("index_rebuilt"):
        v_stale, l_stale = tuple(g.stale for g in check.gate(remaining))
    else:
        v_stale = l_stale = False
    row_fp = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.col("source"), F.col("text"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return remaining.agg(
        F.lit(int(report["sink_rows"])).cast("long").alias("sink_rows_removed"),
        F.lit(int(report["index_rows"])).cast("long").alias("index_rows_removed"),
        F.count("*").cast("long").alias("n_remaining"),
        F.countDistinct("source").cast("long").alias("n_sources_remaining"),
        F.bit_xor(row_fp).alias("remaining_fp"),
        F.lit(not v_stale).alias("vector_fresh"),
        F.lit(not l_stale).alias("lexical_fresh"),
    )
