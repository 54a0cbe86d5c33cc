"""WARC / WET ingestion catalog rows (sources/warc.py, operators/web.py).

DuckDB cannot read WET files, so ``q_wet_roundtrip`` closes the loop
the other way: the documents table is EXPORTED as spec-framed
``.wet.gz`` shards (``write_wet``), read back through BOTH parse modes
(JVM delimiter split and the Content-Length exact walk), and the oracle
is the identity the round trip must preserve — every header field and
the payload md5 reconstructed straight from ``documents``.  A framing
bug, header-parse bug, compression bug, or mode divergence all surface
as a hash mismatch.

``q_html_extract`` replays :func:`html_extract_text`'s regex chain in
DuckDB (same patterns, RE2-safe by construction, same entity-decode
order) over deterministically synthesized HTML — the established
oracle style of catalog/web_queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metalpipe_spark.catalog import _scratch_result, register
from metalpipe_spark.operators.web import (
    HTML_BLOCK_RE,
    HTML_COMMENT_RE,
    HTML_ENTITIES,
    HTML_SCRIPT_RE,
    HTML_STYLE_RE,
    HTML_TAG_RE,
    html_extract_text,
)
from metalpipe_spark.sources.readers import load_table
from metalpipe_spark.sources.warc import read_warc, read_wet, write_wet

_WET_ORACLE = """
SELECT m.mode, d.doc_id,
       'https://corpus.example/' || d.source || '/' || d.doc_id AS url,
       'conversion' AS warc_type,
       'text/plain' AS content_type,
       strlen(d.text) AS content_length,
       md5(d.text) AS text_md5,
       TRUE AS length_ok
FROM documents d
CROSS JOIN (VALUES ('delimiter'), ('exact')) AS m(mode)
ORDER BY m.mode, d.doc_id
"""


@register(
    "q_wet_roundtrip",
    _WET_ORACLE,
    doc=(
        "documents -> write_wet (gzip WET shards, one per task) -> "
        "read_wet under BOTH modes (delimiter lineSep split / exact "
        "Content-Length walk), unioned with a mode column.  The oracle "
        "rebuilds every field from the source table, so the row pins "
        "the full export+parse round trip of the Common Crawl format "
        "AND the two modes' agreement in one hash."
    ),
)
def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://corpus.example/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )

    def run(tmp: str) -> DataFrame:
        write_wet(docs, f"{tmp}/wet")
        parts = []
        for mode in ("delimiter", "exact"):
            r = read_wet(spark, f"{tmp}/wet", mode=mode)
            parts.append(
                r.select(
                    F.lit(mode).alias("mode"),
                    F.regexp_extract("url", r"/([0-9]+)$", 1)
                    .cast("long")
                    .alias("doc_id"),
                    "url",
                    "warc_type",
                    "content_type",
                    "content_length",
                    F.md5("text").alias("text_md5"),
                    "length_ok",
                )
            )
        return parts[0].unionByName(parts[1])

    return _scratch_result("mps_wet_", run).orderBy("mode", "doc_id")


def _entity_sql(expr: str) -> str:
    for ent, rep in HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        expr = f"replace({expr}, '{ent.replace(chr(39), chr(39) * 2)}', '{rep_sql}')"
    return expr


def _html_extract_sql(expr: str) -> str:
    """DuckDB replay of html_extract_text's exact chain (RE2 runs the
    same patterns; 'g' restores Java's replace-all default)."""
    for pat in (HTML_COMMENT_RE, HTML_SCRIPT_RE, HTML_STYLE_RE):
        expr = f"regexp_replace({expr}, '{pat}', ' ', 'g')"
    expr = f"regexp_replace({expr}, '{HTML_BLOCK_RE}', e'\\n', 'g')"
    expr = f"regexp_replace({expr}, '{HTML_TAG_RE}', ' ', 'g')"
    expr = _entity_sql(expr)
    expr = f"regexp_replace({expr}, '[ \\t\\r\\f]+', ' ', 'g')"
    expr = f"regexp_replace({expr}, ' ?\\n ?', e'\\n', 'g')"
    expr = f"regexp_replace({expr}, '\\n+', e'\\n', 'g')"
    return f"regexp_replace({expr}, '^[ \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+$', '', 'g')"


# The synthetic page: title + style in head, comment + script noise,
# an h1, the document text in a paragraph (every 7th document spells
# its spaces as &nbsp;), and a conditional trailing block — chosen so
# every stage of the extractor fires on some rows.
_HTML_SQL = """
  '<html><head><title>Doc ' || doc_id || '</title><style>p {margin:0}</style>'
  || '</head><body><!-- id ' || doc_id || ' -->'
  || '<script>var x = "<p>not text</p>";</script>'
  || '<h1>Doc ' || doc_id || '</h1><p>'
  || (CASE WHEN doc_id % 7 = 0 THEN replace(text, ' ', '&nbsp;') ELSE text END)
  || '</p>'
  || (CASE WHEN doc_id % 3 = 0 THEN '<div>extra &amp; block</div>' ELSE '' END)
  || '</body></html>'
"""

_HTML_ORACLE = f"""
WITH h AS (
  SELECT doc_id, {_HTML_SQL} AS html FROM documents
)
SELECT doc_id, {_html_extract_sql('html')} AS extracted
FROM h ORDER BY doc_id
"""


@register(
    "q_html_extract",
    _HTML_ORACLE,
    doc=(
        "html_extract_text over deterministically synthesized pages "
        "(title/style/comment/script noise, &nbsp;-spelled spaces, "
        "conditional trailing blocks); the oracle replays the same "
        "regex chain under RE2 — comments/script/style dropped, block "
        "boundaries to newlines, tags to spaces, entities decoded, "
        "whitespace collapsed."
    ),
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", _synth_html_col().alias("html"))
        .select("doc_id", html_extract_text("html").alias("extracted"))
        .orderBy("doc_id")
    )


def _synth_html_col() -> F.Column:
    """Spark twin of _HTML_SQL (shared by q_html_extract and
    q_crawl_pipeline)."""
    did = F.col("doc_id").cast("string")
    body = F.when(
        F.col("doc_id") % 7 == 0,
        F.replace(F.col("text"), F.lit(" "), F.lit("&nbsp;")),
    ).otherwise(F.col("text"))
    return F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title><style>p {margin:0}</style>"),
        F.lit("</head><body><!-- id "), did, F.lit(" -->"),
        F.lit('<script>var x = "<p>not text</p>";</script>'),
        F.lit("<h1>Doc "), did, F.lit("</h1><p>"),
        body,
        F.lit("</p>"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("<div>extra &amp; block</div>"))
        .otherwise(F.lit("")),
        F.lit("</body></html>"),
    )


# Plain concatenation: _HTML_SQL contains literal CSS braces, so
# str.format would misread them as placeholders.
_CRAWL_ORACLE = (
    "\nWITH h AS (\n  SELECT doc_id, source, "
    + _HTML_SQL
    + " AS html FROM documents\n), x AS (\n  SELECT doc_id, source, "
    + _html_extract_sql("html")
    + """ AS t FROM h
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(t)) AS n_unique,
       CAST(SUM(length(t)) AS BIGINT) AS total_chars
FROM x GROUP BY source ORDER BY source
"""
)


@register(
    "q_crawl_pipeline",
    _CRAWL_ORACLE,
    doc=(
        "The full Common Crawl ingestion chain as one run: documents "
        "are wrapped into spec-framed WARC ``response`` captures (HTTP "
        "status line + headers + HTML body, gzip segments), read back "
        "through read_warc's Content-Length walk, the binary payloads "
        "extracted to text (html_extract_text), and per-source corpus "
        "stats aggregated (docs, distinct fingerprints, chars).  The "
        "oracle replays synthesis + extraction + aggregation straight "
        "from the documents table, so every stage of the crawl->corpus "
        "path is pinned end-to-end."
    ),
)
def q_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
        _synth_html_col(),
    )
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        F.lit("https://corpus.example/"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Length: "),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n"),
    )

    def run(tmp: str) -> DataFrame:
        (
            docs.select(record.alias("value"))
            .write.option("lineSep", "\r\n")
            .option("compression", "gzip")
            .mode("overwrite")
            .text(f"{tmp}/warc")
        )
        captures = read_warc(spark, f"{tmp}/warc")
        return (
            captures.select(
                F.regexp_extract("url", r"example/([^/]+)/", 1).alias("source"),
                html_extract_text(F.col("payload").cast("string")).alias("t"),
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct(F.md5("t")).alias("n_unique"),
                F.sum(F.length("t")).alias("total_chars"),
            )
        )

    return _scratch_result("mps_crawl_", run).orderBy("source")


@register(
    "q_warc_revisit_dedup",
    """
    SELECT 'urn:rev:' || doc_id AS record_id,
           'https://corpus.example/' || source || '/' || doc_id
             || '?refetch=1' AS url,
           '<urn:doc:' || doc_id || '>' AS refers_to,
           'https://corpus.example/' || source || '/' || doc_id AS orig_url,
           200 AS http_status,
           md5(coalesce(text, '')) AS payload_md5,
           (doc_id % 6 <> 0) AS digest_ok
    FROM documents
    WHERE doc_id < 120 AND doc_id % 3 = 0
    ORDER BY doc_id
    """,
    doc=(
        "Revisit-record dedup (WARC/1.1 identical-payload-digest): a "
        "segment interleaving request/response/metadata/revisit records "
        "round-trips through write_warc -> read_warc (exact walk now "
        "parses all four types + linkage headers) and resolve_revisits "
        "joins each payload-free revisit to its referred response — "
        "recovering the original payload and validating the declared "
        "digest (every 6th doc carries a deliberately wrong digest)."
    ),
)
def q_warc_revisit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.sources.warc import resolve_revisits, write_warc

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 120)
        .select(
            "doc_id",
            F.concat(
                F.lit("https://corpus.example/"),
                F.col("source"),
                F.lit("/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.coalesce("text", F.lit("")).alias("text"),
        )
    )

    def rec(warc_type, url, rid, payload, date, refers_to, profile, digest):
        return [
            F.lit(warc_type).alias("warc_type"),
            url.alias("url"),
            rid.alias("record_id"),
            payload.alias("payload"),
            F.lit(date).alias("date"),
            refers_to.alias("refers_to"),
            F.lit(profile).alias("profile"),
            digest.alias("payload_digest"),
        ]

    rid = lambda kind: F.concat(F.lit(f"urn:{kind}:"), F.col("doc_id"))
    good = F.concat(F.lit("md5:"), F.md5("text"))
    resp = docs.select(*rec(
        "response", F.col("url"), rid("doc"),
        F.concat(
            F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"),
            F.col("text"),
        ),
        "2026-01-01T00:00:00Z", F.lit(""), "", good,
    ))
    req = docs.select(*rec(
        "request", F.col("url"), rid("req"),
        F.lit("GET / HTTP/1.1\r\nHost: corpus.example\r\n\r\n"),
        "2026-01-01T00:00:00Z", F.lit(""), "", F.lit(""),
    ))
    meta = docs.where(F.col("doc_id") % 5 == 0).select(*rec(
        "metadata", F.col("url"), rid("meta"),
        F.lit("via: sitemap\r\nhopsFromSeed: P\r\n"),
        "2026-01-01T00:00:00Z",
        F.concat(F.lit("<urn:doc:"), F.col("doc_id"), F.lit(">")),
        "", F.lit(""),
    ))
    # Every 6th doc declares a WRONG digest: digest_ok must catch it.
    rev_digest = F.when(
        F.col("doc_id") % 6 == 0,
        F.concat(F.lit("md5:"), F.md5(F.concat(F.col("text"), F.lit("X")))),
    ).otherwise(good)
    rev = docs.where(F.col("doc_id") % 3 == 0).select(*rec(
        "revisit", F.concat(F.col("url"), F.lit("?refetch=1")), rid("rev"),
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"),
        "2026-02-01T00:00:00Z",
        F.concat(F.lit("<urn:doc:"), F.col("doc_id"), F.lit(">")),
        "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
        rev_digest,
    ))
    segment = resp.unionByName(req).unionByName(meta).unionByName(rev)

    def run(tmp: str) -> DataFrame:
        write_warc(segment, f"{tmp}/warc")
        warc = read_warc(spark, f"{tmp}/warc", record_types=None)
        return resolve_revisits(warc).select(
            F.regexp_replace("record_id", r"^<|>$", "").alias("record_id"),
            "url",
            "refers_to",
            "orig_url",
            "http_status",
            F.md5("payload").alias("payload_md5"),
            "digest_ok",
        )

    return _scratch_result("mps_warc_rev_", run).orderBy("record_id")
