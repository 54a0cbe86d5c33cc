"""Text-analysis catalog queries over the ``documents`` table: language
ID, quality scoring, token stats, fingerprinting.

Oracle parity notes: tokenization is
``regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')`` on the DuckDB side vs
``F.split(text, '\\s+')`` on the Spark side — the explicit class IS
Java's ``\\s`` (RE2's ``\\s`` omits ``\\x0b``, so spelling it out keeps the
engines identical on every input, r14 advice); all ratios are
exact-integer divisions performed once in DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metalpipe_spark.catalog import register
from metalpipe_spark.operators.text import (
    CHAR_MARKERS,
    LANG_MARKERS,
    PII_PATTERNS,
    analyze_documents,
    detect_language,
    fingerprint,
    quality_score,
    scrub_pii,
    tokens,
)
from metalpipe_spark.sources.readers import load_table


def _marker_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_filter(toks, x -> x IN ({markers})))::DOUBLE"
        f" / greatest(len(toks), 1)::DOUBLE"
    )


def _char_marker_sql(lang: str) -> str:
    return (
        f"len(regexp_extract_all(text, '{CHAR_MARKERS[lang]}'))::DOUBLE"
        f" / greatest(length(text), 1)::DOUBLE"
    )


_LANGS = sorted(set(LANG_MARKERS) | set(CHAR_MARKERS))  # de, en, es, fr, zh
_SCORES = ",\n           ".join(
    f"{_marker_sql(lang) if lang in LANG_MARKERS else _char_marker_sql(lang)} AS s_{lang}"
    for lang in _LANGS
)


def _argmax_case(langs: list[str], threshold: float = 0.01) -> str:
    """Mirror of detect_language's strictly-greater update loop over
    sorted languages: the earliest language attaining the max wins; 'unk'
    unless the max clears the threshold."""
    all_scores = ", ".join(f"s_{lang}" for lang in langs)
    whens = []
    for i, lang in enumerate(langs[:-1]):
        geq = " AND ".join(f"s_{lang} >= s_{other}" for other in langs[i + 1 :])
        whens.append(f"WHEN {geq} THEN '{lang}'")
    branches = "\n                ".join(whens)
    return f"""CASE WHEN greatest({all_scores}) <= {threshold} THEN 'unk'
                {branches}
                ELSE '{langs[-1]}' END"""


_LANGID_SQL = f"""
    WITH t AS (
      SELECT doc_id, lang, text, regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, lang,
           {_SCORES}
      FROM t
    )
    SELECT doc_id, lang AS lang_true,
           {_argmax_case(_LANGS)} AS lang_detected
    FROM s
    ORDER BY doc_id
"""


@register(
    "q_langid",
    _LANGID_SQL,
    doc="Language-ID heuristic: marker-word ratio argmax (operators/text.py).",
)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        detect_language("text").alias("lang_detected"),
    ).orderBy("doc_id")


@register(
    "q_quality_tokens",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS toks FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           (len(list_distinct(toks))::DOUBLE / greatest(len(toks),1)::DOUBLE)
             * (CASE WHEN len(toks) >= 20 THEN 1.0 ELSE len(toks)::DOUBLE / 20.0 END)
             AS quality
    FROM t
    ORDER BY doc_id
    """,
    doc="Quality scoring + token counting (operators/text.py).",
)
def q_quality_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        quality_score("text").alias("quality"),
    ).orderBy("doc_id")


@register(
    "q_tokenize_regex",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')) AS n_bpeish,
           len(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')) AS n_ws,
           CAST(coalesce(list_aggregate(
             list_transform(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]'),
                            t -> length(t)),
             'sum'), 0) AS BIGINT) AS token_chars
    FROM documents
    ORDER BY doc_id
    """,
    doc=(
        "BPE-ish regex pre-tokenization vs whitespace token counts "
        "(operators/text.py BPEISH_PATTERN) — pure codegen regex, no "
        "shuffle, parquet-scan speed at 100 TB."
    ),
)
def q_tokenize_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import regex_token_count, regex_tokens

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = regex_tokens("text")
    return docs.select(
        "doc_id",
        regex_token_count("text").alias("n_bpeish"),
        F.size(tokens("text")).alias("n_ws"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("token_chars"),
    ).orderBy("doc_id")


@register(
    "q_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+'), ' '))
             AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    doc="Document fingerprinting: md5 over normalized token stream.",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return docs.select("doc_id", fingerprint("text").alias("fingerprint")).orderBy("doc_id")


@register(
    "q_text_profile_by_lang",
    """
    WITH t AS (
      SELECT lang, regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS toks, n_chars FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM t
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Corpus-level aggregation of text stats (one shuffle on lang).",
)
def q_text_profile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return (
        docs.withColumn("n_tokens", F.size(tokens("text")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
        .orderBy("lang")
    )


def _pii_oracle() -> str:
    """Generated from PII_PATTERNS so the SQL chain can never drift from
    the Spark chain (same patterns, same redaction order)."""
    counts = ",\n           ".join(
        f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS pii_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    red = "text"
    for name, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    return f"""
    WITH t AS (
      SELECT c_custkey,
             c_name || ' ' || lower(c_name) || '@example.com'
               || ' call 555-' || lpad((c_custkey % 1000)::VARCHAR, 3, '0')
               || '-' || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
               || ' ssn ' || lpad((c_custkey % 1000)::VARCHAR, 3, '0')
               || '-' || lpad((c_nationkey % 100)::VARCHAR, 2, '0')
               || '-' || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
               || ' from 10.' || (c_custkey % 256)::VARCHAR || '.0.'
               || (c_nationkey % 256)::VARCHAR
               || ' ' || c_mktsegment AS text
      FROM customer
    )
    SELECT c_custkey, text,
           {counts},
           {red} AS redacted
    FROM t ORDER BY c_custkey
    """


@register(
    "q_pii_scrub",
    _pii_oracle(),
    doc=(
        "PII detection + redaction: the synthetic corpus holds no real "
        "PII, so the fixture text embeds deterministic key-derived "
        "email/phone/SSN/IP strings; per-type counts and a <TYPE>-token "
        "redacted column, all codegen regex — no shuffle."
    ),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    key, nat = F.col("c_custkey"), F.col("c_nationkey")
    composite = F.concat(
        F.col("c_name"),
        F.lit(" "),
        F.lower(F.col("c_name")),
        F.lit("@example.com"),
        F.lit(" call 555-"),
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
        F.lit(" ssn "),
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((nat % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (key % 256).cast("string"),
        F.lit(".0."),
        (nat % 256).cast("string"),
        F.lit(" "),
        F.col("c_mktsegment"),
    )
    df = cust.select(F.col("c_custkey"), composite.alias("text"))
    return scrub_pii(df, "text", out_col="redacted").orderBy("c_custkey")


_CHUNK, _OVERLAP = 64, 16
_STRIDE = _CHUNK - _OVERLAP


@register(
    "q_chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    st AS (
      SELECT doc_id, toks, n,
             unnest(range(1, greatest(n, 1) + 1, {_STRIDE})) AS s
      FROM t
    )
    SELECT doc_id,
           ((s - 1) // {_STRIDE})::BIGINT AS chunk_id,
           array_to_string(toks[s : s + {_CHUNK - 1}], ' ') AS chunk_text,
           least({_CHUNK}, n - s + 1)::BIGINT AS n_chunk_tokens
    FROM st
    WHERE s = 1 OR s + {_OVERLAP} <= n
    ORDER BY doc_id, chunk_id
    """,
    doc=(
        "Overlapping token-window chunking (64-token windows, 16-token "
        "overlap): sequence/slice/array_join codegen + one explode, no "
        "shuffle."
    ),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return chunk_documents(
        docs, chunk_tokens=_CHUNK, overlap=_OVERLAP
    ).orderBy("doc_id", "chunk_id")


@register(
    "q_token_commonness",
    """
    WITH tk AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    v AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
    tot AS (SELECT COUNT(*) AS total FROM tk),
    d AS (
      SELECT t.doc_id, SUM(v.cnt)::BIGINT AS sum_freq,
             COUNT(*)::BIGINT AS n_tokens
      FROM tk t JOIN v USING (tok)
      GROUP BY t.doc_id
    )
    SELECT doc_id, sum_freq, n_tokens,
           sum_freq::DOUBLE / (tot.total::DOUBLE * n_tokens::DOUBLE)
             AS commonness
    FROM d, tot
    ORDER BY doc_id
    """,
    doc=(
        "Rare-word quality signal: average corpus frequency of each "
        "token occurrence; exact int64 accumulation, one final double "
        "division (vocab join is token-co-located, 1:N)."
    ),
)
def q_token_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import token_commonness

    docs = load_table(spark, sf_dir, "documents")  # join-shaped: rebalance regresses (extra exchange)
    return token_commonness(docs).orderBy("doc_id")


@register(
    "q_length_quantiles",
    """
    WITH t AS (
      SELECT lang, len(string_split(text, ' ')) AS n FROM documents
    )
    SELECT lang,
           quantile_cont(n, 0.5) AS p5,
           quantile_cont(n, 0.9) AS p9,
           quantile_cont(n, 0.99) AS p99
    FROM t GROUP BY lang ORDER BY lang
    """,
    doc=(
        "Per-language token-length quantiles; exact interpolated "
        "percentile here (bit-equal to quantile_cont), approx_percentile "
        "sketch mode for the 100 TB path."
    ),
)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import length_quantiles

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return length_quantiles(docs).orderBy("lang")


@register(
    "q_repetition_signals",
    """
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), g AS (
      SELECT doc_id, text, n,
             greatest(n - 1, 0) AS bi_all,
             greatest(n - 2, 0) AS tri_all,
             len(list_distinct(list_transform(range(1, greatest(n - 0, 1)),
                 i -> toks[i] || ' ' || toks[i+1]))) AS bi_dist_raw,
             len(list_distinct(list_transform(range(1, greatest(n - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS tri_dist_raw,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_alnum
      FROM t
    )
    SELECT doc_id,
           CASE WHEN bi_all > 0
                THEN (bi_all - least(bi_dist_raw, bi_all))::DOUBLE / bi_all::DOUBLE
                ELSE 0.0 END AS dup_bigram_frac,
           CASE WHEN tri_all > 0
                THEN (tri_all - least(tri_dist_raw, tri_all))::DOUBLE / tri_all::DOUBLE
                ELSE 0.0 END AS dup_trigram_frac,
           (n_chars - (n - 1))::DOUBLE / n::DOUBLE AS mean_word_len,
           CASE WHEN n_chars > 0
                THEN (n_chars - n_alnum - (n - 1))::DOUBLE / n_chars::DOUBLE
                ELSE 0.0 END AS symbol_ratio
    FROM g ORDER BY doc_id
    """,
    doc=(
        "Gopher-style repetition/quality signals: duplicate bigram/"
        "trigram fractions, mean word length, symbol ratio -- one scan, "
        "no shuffle, exact integer ratios."
    ),
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return repetition_signals(docs).orderBy("doc_id")


def quality_signal_ctes(source: str = "documents") -> str:
    """CTE chain computing the Gopher quality signals over ``source``
    (ending in ``s(doc_id, n_tokens, dup_bigram_frac, dup_trigram_frac,
    mean_word_len, symbol_ratio)``) — shared by the quality-filter row
    and the composed streaming-pipeline row so both replay ONE signal
    definition."""
    return f"""t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM {source}
    ), g AS (
      SELECT doc_id, n::BIGINT AS n_tokens,
             greatest(n - 1, 0) AS bi_all,
             greatest(n - 2, 0) AS tri_all,
             len(list_distinct(list_transform(range(1, greatest(n, 1)),
                 i -> toks[i] || ' ' || toks[i+1]))) AS bi_dist,
             len(list_distinct(list_transform(range(1, greatest(n - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS tri_dist,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_alnum
      FROM t
    ), s AS (
      SELECT doc_id, n_tokens,
             CASE WHEN bi_all > 0
                  THEN (bi_all - least(bi_dist, bi_all))::DOUBLE / bi_all::DOUBLE
                  ELSE 0.0 END AS dup_bigram_frac,
             CASE WHEN tri_all > 0
                  THEN (tri_all - least(tri_dist, tri_all))::DOUBLE / tri_all::DOUBLE
                  ELSE 0.0 END AS dup_trigram_frac,
             (n_chars - (n_tokens - 1))::DOUBLE / n_tokens::DOUBLE AS mean_word_len,
             CASE WHEN n_chars > 0
                  THEN (n_chars - n_alnum - (n_tokens - 1))::DOUBLE / n_chars::DOUBLE
                  ELSE 0.0 END AS symbol_ratio
      FROM g
    )"""


def quality_reason_case() -> str:
    """The first-violated-rule CASE, generated from QUALITY_RULES so SQL
    and Spark share one rule table."""
    from metalpipe_spark.operators.text import QUALITY_RULES

    whens = " ".join(
        f"WHEN {pred} THEN '{name}'" for name, pred in QUALITY_RULES
    )
    return f"CASE {whens} ELSE NULL END"


def _quality_filter_oracle() -> str:
    case = quality_reason_case()
    return f"""
    WITH {quality_signal_ctes()}
    SELECT doc_id,
           ({case}) IS NULL AS keep,
           {case} AS drop_reason
    FROM s ORDER BY doc_id
    """


@register(
    "q_quality_filter",
    _quality_filter_oracle(),
    doc=(
        "Composite pretraining quality filter: Gopher-style thresholds "
        "over repetition signals; emits keep + first violated rule."
    ),
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import quality_filter

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return quality_filter(docs).orderBy("doc_id")


@register(
    "q_distinctive_terms",
    """
    WITH tk AS (
      SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    tf AS (SELECT lang, tok, COUNT(*) AS tf FROM tk GROUP BY lang, tok),
    dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df_docs FROM tk GROUP BY tok),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT lang, tok, tf, df_docs,
             tf::DOUBLE * (nd.n_docs - df_docs)::DOUBLE / df_docs::DOUBLE AS score
      FROM tf JOIN dfreq USING (tok), nd
      WHERE df_docs >= 2
    ),
    ranked AS (
      SELECT lang, tok, tf, df_docs, score,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY score DESC, tok
             )::BIGINT AS rnk
      FROM scored
    )
    SELECT lang, tok, tf, df_docs, score, rnk
    FROM ranked WHERE rnk <= 10
    ORDER BY lang, rnk
    """,
    doc=(
        "Top-10 distinctive terms per language: log-free rational idf "
        "surrogate tf*(N-df)/df (zero for corpus-wide terms, exact "
        "ints, one division), WindowGroupLimit top-k."
    ),
)
def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import distinctive_terms

    docs = load_table(spark, sf_dir, "documents")  # join-shaped: rebalance regresses (extra exchange)
    return distinctive_terms(docs, k=10).orderBy("lang", "rnk")


def _model_weights() -> list[float]:
    from metalpipe_spark.operators.similarity import deterministic_centroids

    # 32 exactly-representable pseudo-random weights in (-1, 1); a real
    # distilled quality classifier's weights drop into the same plumbing.
    return deterministic_centroids(1, 32)[0]


def _model_quality_oracle(weights: list[float], threshold: float) -> str:
    warr = "[" + ", ".join(f"'{float(w)!r}'::DOUBLE" for w in weights) + "]"
    d = len(weights)
    return f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id,
             list_reduce(
               list_transform(
                 toks,
                 tok -> {warr}[
                   (('0x' || substr(md5(tok), 1, 15))::BIGINT % {d}) + 1
                 ]
               ),
               (a, x) -> a + x
             ) / greatest(len(toks), 1) AS raw
      FROM t
    )
    SELECT doc_id, round(raw, 6) AS logit,
           round(raw, 6) >= {threshold} AS keep
    FROM s ORDER BY doc_id
    """


@register(
    "q_model_quality",
    _model_quality_oracle(_model_weights(), 0.0),
    doc=(
        "Model-based quality filter plumbing (fasttext-style hashed-"
        "feature linear classifier): weights inline as a plan literal "
        "array, the token fold is F.aggregate over the portable md5 "
        "hash, thresholding happens in logit space (monotone in the "
        "sigmoid — no exp per row, no cross-engine libm drift).  Pure "
        "scan shape, runs at parquet scan speed."
    ),
)
def q_model_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import model_quality_filter

    docs = load_table(spark, sf_dir, "documents")
    return (
        model_quality_filter(
            docs.select("doc_id", "text"), _model_weights(), threshold=0.0
        )
        .select("doc_id", "logit", "keep")
        .orderBy("doc_id")
    )


@register(
    "q_normalized_dedup",
    r"""
    WITH n AS (
      SELECT doc_id,
             md5(trim(regexp_replace(
               regexp_replace(
                 translate(lower(text),
                           'áàâäãåéèêëíìîïóòôöõúùûüýÿçñ',
                           'aaaaaaeeeeiiiiooooouuuuyycn'),
                 '[^\p{L}\p{N} ]', ' ', 'g'),
               ' +', ' ', 'g'))) AS norm_fp
      FROM documents
    ),
    r AS (
      SELECT doc_id, norm_fp,
             row_number() OVER (PARTITION BY norm_fp ORDER BY doc_id) AS rn
      FROM n
    )
    SELECT doc_id, norm_fp FROM r WHERE rn = 1
    ORDER BY doc_id
    """,
    doc=(
        "Exact dedup over CCNet-style normalized text (lowercase, "
        "accent fold, punctuation strip, whitespace collapse): case/"
        "punctuation/accent variants of the same document collapse to "
        "one fingerprint, min-id survives.  Normalization is pure "
        "codegen on the scan; dedup is the same single fingerprint "
        "groupBy as exact_dedup."
    ),
)
def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import normalized_dedup

    docs = load_table(spark, sf_dir, "documents")
    return (
        normalized_dedup(docs, keep_fingerprint=True)
        .select("doc_id", "norm_fp")
        .orderBy("doc_id")
    )


# Exactly-representable k/256 weights (8 fractional decimal digits, so
# double -> DECIMAL(18,9) is lossless in both engines).
_LEXICON = {
    "the": 0.5, "and": 0.375, "of": 0.25, "is": 0.125,
    "der": 0.5, "und": 0.375, "das": 0.25,
    "le": 0.5, "et": 0.375, "la": 0.25,
    "el": 0.5, "y": 0.375,
}


def _lexicon_oracle(lexicon: dict[str, float]) -> str:
    rows = ", ".join(
        f"('{t}', '{float(w)!r}'::DOUBLE)" for t, w in sorted(lexicon.items())
    )
    return f"""
    WITH lex(token, weight) AS (VALUES {rows}),
    t AS (
      SELECT doc_id, len(regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+')) AS n,
             unnest(regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+')) AS token
      FROM documents
    ),
    j AS (
      SELECT t.doc_id, t.n,
             coalesce(l.weight, '0.0'::DOUBLE) AS w
      FROM t LEFT JOIN lex l ON t.token = l.token
    )
    SELECT doc_id,
           round(sum(w::DECIMAL(18,9))::DOUBLE / greatest(n, 1), 6)
             AS lex_score
    FROM j GROUP BY doc_id, n
    ORDER BY doc_id
    """


@register(
    "q_lexicon_score",
    _lexicon_oracle(_LEXICON),
    doc=(
        "Lexicon-based document scoring (table-weights complement to the "
        "hashed classifier): explode tokens -> BROADCAST-join the "
        "lexicon -> one map-side-combined groupBy on the doc key.  "
        "DECIMAL(18,9) accumulation keeps the score order-independent "
        "for the oracle hash; a vocab too big to broadcast hashes down "
        "to hashed_linear_logit's literal array instead of shuffling "
        "the corpus."
    ),
)
def q_lexicon_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import lexicon_score

    docs = load_table(spark, sf_dir, "documents")
    out = lexicon_score(
        docs.select("doc_id", "text"), _LEXICON, exact=True
    )
    return out.select(
        "doc_id", F.round("lex_score", 6).alias("lex_score")
    ).orderBy("doc_id")


# Synthetic bigram LM over the corpus's actual frequent bigrams; real
# KenLM exports (rounded to <=9 frac digits at export) drop into the
# same table shape.  Values are k/256 multiples: double<->DECIMAL(18,9)
# lossless in both engines.
_BIGRAM_LM = {
    "table hash": -1.5, "part filter": -1.75, "customer join": -2.0,
    "slow key": -2.25, "merge group": -2.5, "vector small": -2.75,
    "big order": -3.0, "filter small": -3.25, "sort a": -3.5,
    "row a": -3.75, "merge order": -4.0, "filter hash": -4.25,
}
_OOV_LP = -8.0


def _ngram_lm_oracle(
    lm: dict[str, float], oov: float, order: bool = True
) -> str:
    rows = ", ".join(
        f"('{g}', '{float(lp)!r}'::DOUBLE)" for g, lp in sorted(lm.items())
    )
    return f"""
    WITH lm(ngram, logprob) AS (VALUES {rows}),
    t AS (SELECT doc_id,
                 regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+') AS tk
          FROM documents),
    g AS (
      SELECT doc_id, (len(tk) - 1)::BIGINT AS n,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS ngram
      FROM t WHERE len(tk) >= 2
    ),
    j AS (
      SELECT g.doc_id, g.n,
             coalesce(l.logprob, '{float(oov)!r}'::DOUBLE) AS lp
      FROM g LEFT JOIN lm l ON g.ngram = l.ngram
    ),
    scored AS (
      SELECT doc_id,
             round(sum(lp::DECIMAL(18,9))::DOUBLE / n, 6) AS mean_logprob
      FROM j GROUP BY doc_id, n
    )
    SELECT doc_id, mean_logprob FROM scored
    UNION ALL
    SELECT doc_id, '{float(oov)!r}'::DOUBLE AS mean_logprob
    FROM t WHERE len(tk) < 2
    {"ORDER BY doc_id" if order else ""}
    """


@register(
    "q_ngram_logprob",
    _ngram_lm_oracle(_BIGRAM_LM, _OOV_LP),
    doc=(
        "Bigram LM scoring (CCNet's KenLM-perplexity-filter plumbing): "
        "n-gram construction in codegen (transform over an index "
        "sequence slicing the token array), broadcast LM-table join "
        "with flat OOV backoff, map-side-combined per-doc mean.  "
        "DECIMAL accumulation keeps the oracle hash reproducible."
    ),
)
def q_ngram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import ngram_logprob

    docs = load_table(spark, sf_dir, "documents")
    out = ngram_logprob(
        docs.select("doc_id", "text"), _BIGRAM_LM, n=2,
        oov_logprob=_OOV_LP, exact=True,
    )
    return out.select(
        "doc_id", F.round("mean_logprob", 6).alias("mean_logprob")
    ).orderBy("doc_id")


_BPE_PAIR_COUNTS_ORACLE = """
WITH words AS (
  SELECT unnest(regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+')) AS word
  FROM documents
),
w AS (
  SELECT word, count(*)::BIGINT AS n
  FROM words WHERE word <> '' GROUP BY word
),
syms AS (
  SELECT list_append(
           list_transform(range(1, length(word) + 1), i -> word[i]),
           '</w>') AS s,
         n
  FROM w
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(s)),
                               i -> {l: s[i], r: s[i + 1]})) AS p,
         n
  FROM syms
),
counted AS (
  SELECT p.l AS left_sym, p.r AS right_sym, sum(n)::BIGINT AS pair_count
  FROM pairs GROUP BY p.l, p.r
)
SELECT row_number() OVER
         (ORDER BY pair_count DESC, left_sym, right_sym)::INT AS rank,
       left_sym, right_sym, pair_count
FROM counted
ORDER BY pair_count DESC, left_sym, right_sym
LIMIT 200
"""


@register(
    "q_bpe_pair_counts",
    _BPE_PAIR_COUNTS_ORACLE,
    doc=(
        "The oracle-checkable face of BPE training (Sennrich 2016): the "
        "round-0 adjacent symbol-pair frequency table under the merge "
        "loop's exact argmax tie-break order (count desc, pair asc) — "
        "rank 1 IS the first merge train_bpe picks.  Full iterative "
        "training (data-dependent argmax, not SQL-expressible) stays "
        "pinned by reference-equality unit tests (tests/test_bpe.py).  "
        "Plan: one corpus-scale word count, one vocab-scale pair "
        "count, distributed partial top-k; the rank window runs on the "
        "200-row result only."
    ),
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.bpe import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return bpe_pair_counts(docs, top_k=200)


def _hll_oracle(p: int = 12) -> str:
    m = 1 << p
    w = 60 - p
    scale = 1 << (w + 1)
    alpha = 0.7213 / (1 + 1.079 / m)
    return f"""
    WITH t AS (
      SELECT DISTINCT lang, unnest(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')) AS tok
      FROM documents
    ),
    hh AS (
      SELECT lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM t
    ),
    r AS (
      SELECT lang, h >> {w} AS b,
             MAX(CASE WHEN (h & {(1 << w) - 1}) = 0 THEN {w + 1}
                      ELSE {w} - length(bin(h & {(1 << w) - 1})) + 1 END) AS mx
      FROM hh GROUP BY lang, b
    ),
    g AS (
      SELECT lang,
             SUM((1::BIGINT << ({w + 1} - mx))) AS s,
             COUNT(*) AS present
      FROM r GROUP BY lang
    ),
    e AS (
      SELECT lang,
             ((s + ({m} - present) * {scale}::BIGINT)::DOUBLE / {scale}.0) AS harm,
             ({m} - present) AS zeros
      FROM g
    ),
    x AS (
      SELECT lang, zeros,
             ('{alpha!r}'::DOUBLE * {m} * {m}) / harm AS raw
      FROM e
    ),
    est AS (
      SELECT lang,
             CASE WHEN raw <= {2.5 * m} AND zeros > 0
                  THEN {m}.0 * ln({m}.0 / zeros)
                  ELSE raw END AS v
      FROM x
    ),
    exact AS (
      SELECT lang, COUNT(*) AS n_exact
      FROM t GROUP BY lang
    )
    SELECT exact.lang AS lang, n_exact, round(est.v, 4) AS hll_estimate
    FROM exact JOIN est ON exact.lang = est.lang
    ORDER BY exact.lang
    """


@register(
    "q_hll_tokens",
    _hll_oracle(12),
    doc=(
        "Deterministic HyperLogLog (engine surface): distinct-token "
        "cardinality per language from the portable md5 hash and "
        "integer-exact register sums, so the ESTIMATE itself is "
        "value-hash identical across engines (native approx_* "
        "aggregates never can be).  One map-side-combined shuffle "
        "capped at 2^p rows per group regardless of input size; exact "
        "count alongside for accuracy reading."
    ),
)
def q_hll_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.sketches import hll_count_distinct

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = docs.select(
        "lang", F.explode_outer(F.array_distinct(tokens("text"))).alias("tok")
    ).dropDuplicates(["lang", "tok"])
    est = hll_count_distinct(toks, "tok", group_cols=["lang"], p=12)
    exact = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("n_exact"))
    return exact.join(est, "lang").orderBy("lang")


def _countmin_oracle(depth: int = 4, width: int = 2048, k: int = 20) -> str:
    from metalpipe_spark.operators.dedup import minhash_coefficients

    h32 = "('0x' || substr(md5(tok), 1, 8))::BIGINT"
    coeffs = minhash_coefficients(depth)
    # Multiply-shift buckets (high bits), matching _cm_bucket_structs.
    shift = 32 - (width.bit_length() - 1)
    hash_rows = "\n      UNION ALL ".join(
        f"SELECT tok, {j} AS j, (({a} * h + {b}) % 4294967296) // {1 << shift} AS bucket FROM hh"
        for j, (a, b) in enumerate(coeffs)
    )
    return f"""
    WITH t AS (
      SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')) AS tok FROM documents
    ),
    hh AS (SELECT tok, {h32} AS h FROM t),
    rb AS (
      {hash_rows}
    ),
    sk AS (SELECT j, bucket, COUNT(*) AS c FROM rb GROUP BY j, bucket),
    top AS (
      SELECT tok, COUNT(*) AS n_exact FROM t GROUP BY tok
      ORDER BY n_exact DESC, tok LIMIT {k}
    ),
    q AS (
      SELECT DISTINCT rb.tok, rb.j, rb.bucket
      FROM rb JOIN top ON rb.tok = top.tok
    ),
    est AS (
      SELECT q.tok, MIN(sk.c) AS cm_estimate
      FROM q JOIN sk ON q.j = sk.j AND q.bucket = sk.bucket
      GROUP BY q.tok
    )
    SELECT top.tok AS tok, n_exact, cm_estimate
    FROM top JOIN est ON top.tok = est.tok
    ORDER BY n_exact DESC, tok
    """


@register(
    "q_countmin_tokens",
    _countmin_oracle(4, 2048, 20),
    doc=(
        "Count-min heavy-hitter estimates (engine surface): the sketch "
        "table is depth x width counters regardless of corpus size "
        "(one map-side-combined shuffle), estimates are min-over-rows "
        "via a broadcast join, and - the sketches discipline - the md5 "
        "affine family plus integer counters make every estimate "
        "value-hash identical in the DuckDB oracle.  cm_estimate >= "
        "n_exact always (one-sided error, pinned by tests)."
    ),
)
def q_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.sketches import (
        count_min_lookup,
        count_min_sketch,
    )

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    sketch = count_min_sketch(toks, "tok")
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("tok"))
        .limit(20)
    )
    est = count_min_lookup(sketch, top.select("tok"), "tok")
    return top.join(est, "tok").select(
        "tok", "n_exact", "cm_estimate"
    ).orderBy(F.desc("n_exact"), F.asc("tok"))



def _hist_oracle(
    lo: float = 0.0,
    hi: float = 128.0,
    bins: int = 32,
    qs: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
) -> str:
    """Replay of the histogram-quantile sketch: same bin arithmetic
    (one sub, one mul, one div, one floor — textually identical
    operation order), exact BIGINT bin counts, and the SHARED
    value-CASE text from ``histogram_quantile_value_sql`` so the
    interpolation cannot drift between engines."""
    from metalpipe_spark.operators.sketches import histogram_quantile_value_sql

    val = histogram_quantile_value_sql(lo, hi, bins, "b", "n", "cum", "tgt")
    q_lits = ", ".join(f"'{q!r}'::DOUBLE" for q in qs)
    return f"""
    WITH t AS (
      SELECT lang, len(string_split(text, ' '))::DOUBLE AS x FROM documents
    ),
    bb AS (
      SELECT lang,
             CASE WHEN x < {lo!r} THEN 0
                  WHEN x >= {hi!r} THEN {bins + 1}
                  ELSE 1 + least({bins - 1},
                                 floor(((x - {lo!r}) * {float(bins)!r}) / {hi - lo!r}))
             END AS b
      FROM t
    ),
    r AS (SELECT lang, b, count(*)::BIGINT AS n FROM bb GROUP BY lang, b),
    c AS (
      SELECT lang, b, n,
             sum(n) OVER (PARTITION BY lang ORDER BY b) AS cum,
             sum(n) OVER (PARTITION BY lang) AS total
      FROM r
    ),
    qq AS (SELECT unnest([{q_lits}]) AS q),
    h AS (
      SELECT lang, b, n, cum, q,
             GREATEST(CAST(1 AS BIGINT), CAST(CEIL(q * total) AS BIGINT)) AS tgt
      FROM c CROSS JOIN qq
    )
    SELECT lang, q, {val} AS est
    FROM h WHERE cum >= tgt AND cum - n < tgt
    ORDER BY lang, q
    """


@register(
    "q_hist_quantiles",
    _hist_oracle(),
    doc=(
        "Histogram-quantile sketch (engine surface; the quantile "
        "member of the sketch trio): per-language token-count "
        "p25/p50/p90/p99 from a fixed 32-bin register table — at most "
        "bins+2 rows per group cross the wire regardless of corpus "
        "size, counts are exact BIGINTs (mergeable by sum), and the "
        "inverse-CDF interpolation replays expression-for-expression "
        "in the DuckDB oracle via the shared value-CASE text.  Native "
        "approx_percentile can never pass this gate (engine-private "
        "KLL compaction); an exact percentile is a full sort at "
        "100 TB."
    ),
)
def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.sketches import histogram_sketch_quantiles

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    x = docs.select("lang", F.size(tokens("text")).alias("x"))
    return histogram_sketch_quantiles(
        x, "x", 0.0, 128.0, qs=(0.25, 0.5, 0.9, 0.99), bins=32,
        group_cols=["lang"],
    ).orderBy("lang", "q")


_EXACT_Q_ORACLE = """
    WITH t AS (SELECT lang, n_chars::DOUBLE AS x FROM documents),
    w AS (
      SELECT lang, x,
             row_number() OVER (PARTITION BY lang ORDER BY x) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM t
    ),
    qq AS (SELECT unnest(['0.5'::DOUBLE, '0.9'::DOUBLE]) AS q)
    SELECT lang, q, x AS value FROM w CROSS JOIN qq
    WHERE rn = GREATEST(1, CAST(CEIL(q * n) AS BIGINT))
    ORDER BY lang, q
    """


@register(
    "q_exact_quantiles",
    _EXACT_Q_ORACLE,
    doc=(
        "exact_quantile (engine surface; distributed selection): the "
        "TRUE per-language n_chars median and p90 — the element at "
        "rank ceil(q*n) — found by iterative histogram narrowing "
        "instead of a global sort: each pass is a scan + map-side-"
        "combined bin count against a broadcast range table, ranges "
        "shrink 256x per pass, ties terminate via bin min==max.  Zero "
        "error (vs histogram_quantiles' one-bin-width bound) at "
        "log_256(range) scan passes and NO data shuffle; the oracle "
        "is the sort-based definition (window row_number)."
    ),
)
def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.sketches import exact_quantile

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return exact_quantile(
        docs.select("lang", "n_chars"), "n_chars", qs=(0.5, 0.9),
        group_cols=["lang"],
    )


_BM25_TERMS = ("hash", "join", "spark", "vector")


def _bm25_score_ctes(term_filter: str, k1: float = 1.2, b: float = 0.75) -> str:
    """CTE chain replaying the shared BM25 scoring core
    (``bm25_per_term_scores``) with repr-exact literals (k1+1 is
    2.2000000000000002 in binary — the string the oracle must parse,
    not '2.2'), ending in ``per(doc_id, tok, c)`` — shared by the
    single-query row and the hybrid-retrieval row so the contribution
    arithmetic cannot drift between them.  ``term_filter`` is the SQL
    predicate selecting query-set tokens."""
    k1p1 = repr(k1 + 1.0)
    omb = repr(1.0 - b)
    return f"""dl AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_dl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*)::BIGINT AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE {term_filter}
      GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*)::BIGINT AS df_docs FROM tf GROUP BY tok),
    per AS (
      SELECT t.doc_id, t.tok,
             ln('1.0'::DOUBLE
                + (s.n_docs::DOUBLE - f.df_docs::DOUBLE + '0.5'::DOUBLE)
                  / (f.df_docs::DOUBLE + '0.5'::DOUBLE))
             * ((t.tf::DOUBLE * '{k1p1}'::DOUBLE)
                / (t.tf::DOUBLE
                   + '{k1!r}'::DOUBLE
                     * ('{omb}'::DOUBLE
                        + '{b!r}'::DOUBLE
                          * (d.dl::DOUBLE
                             / (s.total_dl::DOUBLE / s.n_docs::DOUBLE))))) AS c
      FROM tf t JOIN dfreq f USING (tok) JOIN dl d USING (doc_id)
      CROSS JOIN stats s
    )"""


def _bm25_oracle(k1: float = 1.2, b: float = 0.75, k: int = 10) -> str:
    """Replay of bm25_topk: the shared scoring CTEs + the same
    tok-ordered left fold per document."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH {_bm25_score_ctes(f"tok IN ({terms})", k1, b)},
    folded AS (
      SELECT doc_id,
             round(list_reduce(list(c ORDER BY tok), (acc, x) -> acc + x), 6)
               AS bm25
      FROM per GROUP BY doc_id
    )
    SELECT doc_id, bm25,
           row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS rnk
    FROM folded ORDER BY bm25 DESC, doc_id LIMIT {k}
    """


@register(
    "q_bm25_topk",
    _bm25_oracle(),
    doc=(
        "BM25 keyword retrieval (Lucene's non-negative idf variant): "
        "top-10 documents for a 4-term query.  Corpus-scale work is one "
        "scan (tokens filter to the query set BEFORE any aggregation), "
        "per-(doc,term) tf and per-term df are map-side-combined aggs, "
        "stats broadcast, and the per-doc score is a tok-ordered left "
        "fold (never a shuffle-order double SUM) ranked over round(x,6) "
        "with a distributed partial top-k - no global window task."
    ),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, list(_BM25_TERMS), k=10).orderBy("rnk")


@register(
    "q_corpus_report",
    """
    SELECT count(*)::BIGINT AS n_docs,
           sum(len(string_split(coalesce(text, ''), ' ')))::BIGINT
             AS total_tokens,
           count(DISTINCT md5(coalesce(text, '')))::BIGINT AS n_unique_docs,
           count(DISTINCT lang)::BIGINT AS n_langs,
           count(DISTINCT source)::BIGINT AS n_sources,
           round(sum(len(string_split(coalesce(text, ''), ' ')))::DOUBLE
                 / count(*)::DOUBLE, 6) AS mean_doc_tokens,
           round('1.0'::DOUBLE
                 - count(DISTINCT md5(coalesce(text, '')))::DOUBLE
                   / count(*)::DOUBLE, 6) AS dup_rate
    FROM documents
    """,
    doc=(
        "One-row dataset-card summary (doc/token volume, language/"
        "source diversity, exact duplication rate) in ONE scan: the "
        "multi-distinct aggregate runs through Expand into a single "
        "map-side-combined shuffle -- never one pass per dimension.  "
        "exact_distinct=False swaps the distincts for HLL "
        "approx_count_distinct, the 100 TB default."
    ),
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import corpus_report

    docs = load_table(spark, sf_dir, "documents")
    return corpus_report(docs)


def _hybrid_retrieval_oracle(
    n_queries: int = 3, n_terms: int = 6, shortlist: int = 20, k: int = 10
) -> str:
    """Replay of the full hybrid stack: per-query BM25 over the shared
    scoring CTEs, exact cosine rank over embeddings (vec_id keys
    doc_id — one embedding per document in the synthetic corpus), and
    RRF with the source-ordered left fold Spark's rrf_fuse runs."""
    from metalpipe_spark.catalog.similarity import _cos

    return f"""
    WITH q AS (
      SELECT doc_id AS query_id,
             list_slice(string_split(text, ' '), 1, {n_terms}) AS terms
      FROM documents WHERE doc_id < {n_queries}
    ),
    qterms AS (SELECT DISTINCT query_id, unnest(terms) AS tok FROM q),
    {_bm25_score_ctes("tok IN (SELECT tok FROM qterms)")},
    bfold AS (
      SELECT qt.query_id, p.doc_id,
             round(list_reduce(list(p.c ORDER BY p.tok), (acc, x) -> acc + x), 6)
               AS bm25
      FROM per p JOIN qterms qt USING (tok)
      GROUP BY qt.query_id, p.doc_id
    ),
    brank AS (
      SELECT query_id, doc_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rnk
      FROM bfold
    ),
    qv AS (
      SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id < {n_queries}
    ),
    dsc AS (
      SELECT qv.query_id, e.vec_id AS doc_id,
             round({_cos('e.embedding', 'qv.embedding')}, 6) AS cs
      FROM embeddings e CROSS JOIN qv
    ),
    drank AS (
      SELECT query_id, doc_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cs DESC, doc_id) AS rnk
      FROM dsc
    ),
    u AS (
      SELECT query_id, doc_id, 'bm25' AS src,
             '1.0'::DOUBLE / ('60.0'::DOUBLE + rnk::DOUBLE) AS v
      FROM brank WHERE rnk <= {shortlist}
      UNION ALL
      SELECT query_id, doc_id, 'dense' AS src,
             '1.0'::DOUBLE / ('60.0'::DOUBLE + rnk::DOUBLE) AS v
      FROM drank WHERE rnk <= {shortlist}
    ),
    fused AS (
      SELECT query_id, doc_id,
             round(list_reduce(list(v ORDER BY src), (acc, x) -> acc + x), 9)
               AS rrf
      FROM u GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, rrf,
             row_number() OVER (
               PARTITION BY query_id ORDER BY rrf DESC, doc_id)::BIGINT AS rnk
      FROM fused
    )
    SELECT query_id, doc_id, rrf, rnk FROM ranked WHERE rnk <= {k}
    ORDER BY query_id, rnk
    """


@register(
    "q_hybrid_retrieval",
    _hybrid_retrieval_oracle(),
    doc=(
        "Hybrid retrieval with reciprocal-rank fusion (Cormack et al. "
        "2009): a sparse ranker (batched BM25, sharing the single-query "
        "row's scoring core) and a dense ranker (exact cosine over the "
        "documents' embeddings) each shortlist 20 per query; RRF "
        "combines RANKS only (1/(60+rnk), source-ordered left fold), "
        "so the incomparable score scales never meet.  Corpus-scale "
        "work is one scan per retriever; query artifacts broadcast; "
        "fusion input is queries x 40 rows."
    ),
)
def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.retrieval import bm25_topk_batch, rrf_fuse
    from metalpipe_spark.operators.similarity import brute_force_topk_batch

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qdocs = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.col("text"), r" "), 1, 6).alias("terms"),
    )
    sparse = bm25_topk_batch(docs, qdocs, k=20)
    qvecs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = brute_force_topk_batch(emb, qvecs, k=20).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rnk"
    )
    return rrf_fuse({"bm25": sparse, "dense": dense}, k=10).orderBy(
        "query_id", "rnk"
    )


@register(
    "q_char_entropy",
    """
    WITH ch AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
      FROM documents
    ),
    c2 AS (SELECT doc_id, ch FROM ch WHERE ch <> ''),
    counts AS (
      SELECT doc_id, ch, count(*)::BIGINT AS n FROM c2 GROUP BY doc_id, ch
    ),
    per AS (
      SELECT doc_id, sum(n)::BIGINT AS n_chars,
             list(n ORDER BY ch) AS cs
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_chars,
           round(list_reduce(
             list_prepend(
               0.0::DOUBLE,
               list_transform(cs, c ->
                 -(c::DOUBLE / n_chars::DOUBLE)
                  * log2(c::DOUBLE / n_chars::DOUBLE))),
             (acc, x) -> acc + x), 6) AS char_entropy
    FROM per
    ORDER BY doc_id
    """,
    doc=(
        "Character-distribution Shannon entropy (Gopher/CCNet-style "
        "gibberish signal): exact integer char counts, char-sorted "
        "left-fold of p*log2(p) (never a shuffle-order double SUM), "
        "rounded to 6.  Two count-carrying shuffles keyed by doc; text "
        "never moves past the scan."
    ),
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import char_entropy

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return char_entropy(docs).orderBy("doc_id")


# Fixed, corpus-independent merge table for the ENCODE row — a VALID
# BPE table (every compound component is produced by an earlier rule),
# which is the property that makes "replay rules in rank order" equal
# to bpe_encode's rank-greedy loop; includes two compound rules so the
# chain exercises real merge depth.  No rule has left='</w>' (word-
# final symbol), so the oracle's whole-document replay cannot merge
# across word boundaries.
_BPE_ENC_MERGES = [
    ("e", "</w>"), ("t", "h"), ("s", "</w>"), ("a", "n"), ("i", "n"),
    ("r", "e"), ("t", "</w>"), ("o", "r"), ("d", "</w>"), ("a", "r"),
    ("e", "r"), ("l", "e"), ("th", "e"), ("the", "</w>"), ("an", "</w>"),
    ("in", "</w>"),
]


def _bpe_encode_oracle() -> str:
    # one word -> '(c)(h)...(</w>)'; words concatenate directly (the
    # trailing (</w>) is the separator), then each rule replays as a
    # global regexp_replace of '\(l\)\(r\)' -> '(lr)'.
    s = (
        "array_to_string(list_transform(string_split(text, ' '), "
        "w -> '(' || array_to_string(string_split(w, ''), ')(') "
        "|| ')(</w>)'), '')"
    )
    for l, r in _BPE_ENC_MERGES:
        pl = l.replace("/", "/")  # no regex specials in this alphabet
        s = f"regexp_replace({s}, '\\({pl}\\)\\({r}\\)', '({l}{r})', 'g')"
    return f"""
    WITH enc AS (SELECT doc_id, {s} AS s FROM documents)
    SELECT doc_id,
           (length(s) - length(replace(s, '(', '')))::BIGINT AS n_subwords,
           md5(s) AS enc_md5
    FROM enc ORDER BY doc_id
    """


@register(
    "q_bpe_encode",
    _bpe_encode_oracle(),
    doc=(
        "BPE ENCODING with a fixed valid merge table: the rank-greedy "
        "loop (always merge the lowest-rank pair present, first "
        "occurrence first) over every document, fingerprinted as the "
        "parenthesized subword stream.  The DuckDB twin replays the "
        "rules in rank order as chained global regex replaces - equal "
        "to rank-greedy exactly because the table is VALID (components "
        "precede their uses), the property a trained table has by "
        "construction.  Encoding is one Arrow-batched scan with a "
        "per-batch word memo; no shuffle."
    ),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.bpe import bpe_encode

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    enc = bpe_encode(docs, _BPE_ENC_MERGES)
    return enc.select(
        "doc_id",
        "n_subwords",
        F.md5(
            F.concat(F.lit("("), F.concat_ws(")(", "subwords"), F.lit(")"))
        ).alias("enc_md5"),
    ).orderBy("doc_id")


def _langid_model_oracle() -> str:
    from metalpipe_spark.operators.langid import (
        langid_logits_sql,
        langid_pred_sql,
        synthetic_multilingual_sql,
    )
    from metalpipe_spark.operators.langid_weights import (
        LANGID_BIASES,
        LANGID_SCRIPT_WEIGHTS,
        LANGID_TRAINED_CLASSES,
        LANGID_WEIGHTS,
    )

    synth = synthetic_multilingual_sql("lang", "doc_id", salt="v1")
    logits = langid_logits_sql(
        "toks", LANGID_TRAINED_CLASSES, LANGID_WEIGHTS, LANGID_BIASES,
        script_weights=LANGID_SCRIPT_WEIGHTS, text_expr="text",
    )
    pred = langid_pred_sql("logits", LANGID_TRAINED_CLASSES)
    return f"""
    WITH s AS (
      SELECT doc_id, lang, {synth} AS text FROM documents
    ), t AS (
      SELECT doc_id, lang, text,
             regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS toks
      FROM s
    ), l AS (
      SELECT doc_id, lang, {logits} AS logits FROM t
    )
    SELECT doc_id, lang, {pred} AS pred_lang
    FROM l ORDER BY doc_id
    """


@register(
    "q_langid_model",
    _langid_model_oracle(),
    doc=(
        "TRAINED language-ID (the model path closing SURVEY's langid "
        "gap): softmax logistic regression over hashing-trick token "
        "features, trained distributed (scripts/train_langid.py), "
        "served as ONE codegen/HOF fold with the weights inlined as "
        "plan literals - no Python in the hot path, scan-shaped like "
        "model_quality_filter.  The corpus text carries no language "
        "signal, so the row synthesizes a deterministic multilingual "
        "fixture (md5-driven word picks, bit-identical in both "
        "engines) and predicts over it; 11 languages incl. script-block "
        "character-fraction features; held-out accuracy 1.0000 vs the "
        "5-language marker heuristic's 0.43 (pinned in "
        "tests/test_langid.py).  "
        "The marker detect_language stays the zero-dependency fallback "
        "for unsegmented scripts."
    ),
)
def q_langid_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.langid import (
        detect_language_model,
        synthetic_multilingual_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        "lang",
        synthetic_multilingual_text("lang", "doc_id", salt="v1").alias("text"),
    )
    return synth.select(
        "doc_id", "lang", detect_language_model("text").alias("pred_lang")
    ).orderBy("doc_id")


_LANGID_MIX = ["zh", "ja", "ko", "en", "ru"]


def _langid_cjk_oracle() -> str:
    from metalpipe_spark.operators.langid import (
        _WS_CLASS,
        ROUTE_THRESHOLD,
        cjk_fraction_sql,
        cjk_logits_sql,
        langid_logits_sql,
        langid_pred_sql,
        synthetic_cjk_sql,
        synthetic_multilingual_sql,
    )
    from metalpipe_spark.operators.langid_weights import (
        CJK_BIASES,
        CJK_SCRIPT_WEIGHTS,
        CJK_TRAINED_CLASSES,
        CJK_WEIGHTS,
        LANGID_BIASES,
        LANGID_SCRIPT_WEIGHTS,
        LANGID_TRAINED_CLASSES,
        LANGID_WEIGHTS,
    )

    mix = "[" + ", ".join(f"'{c}'" for c in _LANGID_MIX) + "]"
    synth_cjk = synthetic_cjk_sql("lang", "doc_id", salt="v1c")
    synth_tok = synthetic_multilingual_sql("lang", "doc_id", salt="v1c")
    cjk_logits = cjk_logits_sql(
        CJK_TRAINED_CLASSES, CJK_WEIGHTS, CJK_BIASES, CJK_SCRIPT_WEIGHTS,
        stripped_expr="s", text_expr="text",
    )
    tok_logits = langid_logits_sql(
        "toks", LANGID_TRAINED_CLASSES, LANGID_WEIGHTS, LANGID_BIASES,
        script_weights=LANGID_SCRIPT_WEIGHTS, text_expr="text",
    )
    cjk_pred = langid_pred_sql("cjk_logits", CJK_TRAINED_CLASSES)
    tok_pred = langid_pred_sql("tok_logits", LANGID_TRAINED_CLASSES)
    return f"""
    WITH base AS (
      SELECT doc_id, ({mix})[(doc_id % 5)::INT + 1] AS lang FROM documents
    ), s0 AS (
      SELECT doc_id, lang,
             CASE WHEN lang IN ('zh', 'ja', 'ko') THEN {synth_cjk}
                  ELSE {synth_tok} END AS text
      FROM base
    ), s1 AS (
      SELECT doc_id, lang, text,
             regexp_replace(text, '{_WS_CLASS}', '', 'g') AS s,
             regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS toks
      FROM s0
    ), l AS (
      SELECT doc_id, lang, text,
             {cjk_logits} AS cjk_logits,
             {tok_logits} AS tok_logits
      FROM s1
    )
    SELECT doc_id, lang,
           CASE WHEN {cjk_fraction_sql("text")} >= {ROUTE_THRESHOLD!r}
                THEN {cjk_pred} ELSE {tok_pred} END AS pred_lang
    FROM l ORDER BY doc_id
    """


@register(
    "q_langid_cjk",
    _langid_cjk_oracle(),
    doc=(
        "UNSEGMENTED-CJK language ID (VERDICT r12 task 4): real "
        "Chinese/Japanese prose has no spaces, so the whitespace-token "
        "model sees one OOV token per document - this row routes by "
        "kana/hangul/han character fraction (>= 0.3) to a trained "
        "char-BIGRAM hashed softmax (no tokenizer: substr grams over "
        "the whitespace-stripped text, md5-fold serving, script "
        "fractions appended), falling through to the token model for "
        "segmented scripts.  Fixture mixes unsegmented zh/ja/ko "
        "(zh and ja share Han characters, so bigram distributions - "
        "not script fractions alone - separate them) with segmented "
        "en/ru; held-out accuracy 1.0000 on all three unsegmented "
        "languages vs the marker heuristic's 0.333 "
        "(langid_weights.py).  Both branches are pure JVM folds; the "
        "CASE evaluates only the taken branch per row."
    ),
)
def q_langid_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.langid import (
        detect_language_routed,
        synthetic_cjk_text,
        synthetic_multilingual_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    mix = F.array(*[F.lit(c) for c in _LANGID_MIX])
    base = docs.select(
        "doc_id",
        F.element_at(
            mix, F.pmod(F.col("doc_id"), F.lit(5)).cast("int") + 1
        ).alias("lang"),
    )
    synth = base.select(
        "doc_id",
        "lang",
        F.when(
            F.col("lang").isin("zh", "ja", "ko"),
            synthetic_cjk_text("lang", "doc_id", salt="v1c"),
        )
        .otherwise(synthetic_multilingual_text("lang", "doc_id", salt="v1c"))
        .alias("text"),
    )
    return synth.select(
        "doc_id", "lang", detect_language_routed("text").alias("pred_lang")
    ).orderBy("doc_id")


_VOCAB_K = 16


@register(
    "q_vocab_coverage",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM toks GROUP BY token
      ORDER BY COUNT(*) DESC, token ASC LIMIT {_VOCAB_K}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*) AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
    doc=(
        "Tokenizer-coverage report: top-16 corpus vocabulary by "
        "frequency (ties -> token asc, so the vocab is deterministic), "
        "then per-document OOV rate against it.  Vocab top-k plans as "
        "TakeOrderedAndProject; the probe broadcasts the vocab - the "
        "corpus never shuffles."
    ),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import build_vocabulary, oov_rate

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    vocab = build_vocabulary(docs, vocab_size=_VOCAB_K)
    return oov_rate(docs, vocab).orderBy("doc_id")


# The tercile fractions MUST be the same double literal on both
# sides: disc percentiles are step functions, so the Spark default
# repr(1/3) and a 10-digit SQL literal pick DIFFERENT elements whenever
# p*n lands between the two (first bites at n % 3 == 0).
_CCNET_P = (0.3333333333, 0.6666666667)


@register(
    "q_ccnet_buckets",
    f"""
    WITH allscored AS (
      {_ngram_lm_oracle(_BIGRAM_LM, _OOV_LP, order=False)}
    ),
    th AS (
      SELECT quantile_disc(mean_logprob, {_CCNET_P[0]!r}) AS t1,
             quantile_disc(mean_logprob, {_CCNET_P[1]!r}) AS t2
      FROM allscored
    )
    SELECT doc_id, mean_logprob,
           CASE WHEN mean_logprob > t2 THEN 'head'
                WHEN mean_logprob > t1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM allscored, th
    ORDER BY doc_id
    """,
    doc=(
        "CCNet head/middle/tail perplexity split (Wenzek et al., LREC "
        "2020): bigram-LM scoring -> corpus percentile_disc terciles "
        "(ANSI semantics; fraction literals shared verbatim with the "
        "oracle — disc percentiles are step functions, so a differing "
        "literal picks a different element at n % 3 == 0) "
        "-> one-row threshold aggregate broadcast back over the scored "
        "table.  No second scoring pass, no global sort; the exact "
        "percentile's O(n)-state final aggregate has an "
        "approx_percentile twin for full corpus-scale (approx=True)."
    ),
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import perplexity_buckets

    docs = load_table(spark, sf_dir, "documents")
    return perplexity_buckets(
        docs.select("doc_id", "text"), _BIGRAM_LM, n=2,
        oov_logprob=_OOV_LP, fractions=_CCNET_P, exact=True,
    ).orderBy("doc_id")


_UNIGRAM_SEED_ORACLE = """
    WITH w AS (
      SELECT word, count(*)::BIGINT AS n FROM (
        SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    s AS (
      SELECT unnest(flatten(list_transform(range(1, length(word) + 1), i ->
               list_transform(range(1, least(4, length(word) - i + 1) + 1),
                              l -> substr(word, i, l))))) AS piece,
             n
      FROM w
    ),
    c AS (SELECT piece, sum(n)::BIGINT AS piece_count FROM s GROUP BY piece),
    r AS (
      SELECT row_number() OVER (ORDER BY piece_count DESC, piece) AS rank,
             piece, piece_count
      FROM c
    )
    SELECT rank::INT AS rank, piece, piece_count FROM r
    WHERE rank <= 50 ORDER BY rank
    """


@register(
    "q_unigram_seed",
    _UNIGRAM_SEED_ORACLE,
    doc=(
        "Unigram-tokenizer seeding (operators/unigram.py, Kudo 2018): "
        "the top-50 candidate substrings (length <= 4) by weighted "
        "corpus frequency under the trainer's deterministic total "
        "order — the vocabulary train_unigram's EM starts from.  The "
        "substring explosion is a pure JVM HOF over the DISTINCT-word "
        "table (vocab-scale x L^2, never corpus-scale); the corpus is "
        "touched exactly once by the word count."
    ),
)
def q_unigram_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.unigram import unigram_seed_counts

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return unigram_seed_counts(docs, max_piece_len=4, top_k=50)


# Fixed VALID piece table for the encode row (the _BPE_ENC_MERGES
# pattern): hand-pinned log-probs over common English subwords plus
# the ASCII letters, so Viterbi segmentation is fully determined by
# the table and the text — no training in the bench path.
_UNI_ENC_PIECES = {
    "the": -2.0, "ing": -2.2, "ion": -2.4, "in": -2.5, "on": -2.6,
    "es": -2.65, "at": -2.7, "an": -2.75, "er": -2.8, "en": -2.85,
    "re": -2.9, "th": -3.0, "he": -3.2, "or": -3.1, "ar": -3.15,
    "te": -3.25, "st": -3.3, "nd": -3.35, "ed": -3.4,
    **{c: -4.0 - i * 0.01 for i, c in enumerate("etaoinshrdlcumwfgypbvkjxqz")},
    **{c: -5.0 - i * 0.01 for i, c in enumerate("0123456789")},
}


def _unigram_encode_oracle() -> str:
    from metalpipe_spark.operators.unigram import viterbi_encode_oracle_sql

    return viterbi_encode_oracle_sql(_UNI_ENC_PIECES, max_word_len=20)


@register(
    "q_unigram_encode",
    _unigram_encode_oracle(),
    doc=(
        "Unigram ENCODING with a fixed pinned piece table "
        "(operators/unigram.py): Viterbi max-log-prob segmentation per "
        "word, unknown characters as <unk>, fingerprinted as the "
        "parenthesized piece stream.  FULLY hash-gated since r15 "
        "(previously rows-only): the DuckDB twin materializes each DP "
        "level's candidate ARMS and winning choice (score desc, "
        "longest piece — the engine's first-maximizer tie-break), "
        "walks the backtracking as a recursive CTE, and reassembles "
        "per-document piece streams in token order "
        "(viterbi_encode_oracle_sql — the q_unigram_viterbi "
        "MATERIALIZED-CTE unroll taken one step further, closing "
        "VERDICT r14 task 8).  Engine: one Arrow-batched scan with a "
        "per-batch word memo; no shuffle — the bpe_encode shape."
    ),
)
def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.unigram import unigram_encode

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    enc = unigram_encode(docs, _UNI_ENC_PIECES)
    return enc.select(
        "doc_id",
        "n_pieces",
        F.md5(
            F.concat(F.lit("("), F.concat_ws(")(", "pieces"), F.lit(")"))
        ).alias("enc_md5"),
    ).orderBy("doc_id")


def _viterbi_scores_oracle() -> str:
    from metalpipe_spark.operators.unigram import viterbi_score_oracle_sql

    words_cte = (
        "w AS MATERIALIZED (SELECT DISTINCT word FROM ("
        "SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')) AS word "
        "FROM documents) WHERE word <> '' AND length(word) <= 20)"
    )
    return viterbi_score_oracle_sql(_UNI_ENC_PIECES, words_cte)


@register(
    "q_unigram_viterbi",
    _viterbi_scores_oracle(),
    doc=(
        "unigram_viterbi_scores (operators/unigram.py): the Viterbi "
        "BEST-SEGMENTATION SCORE per distinct word under the fixed "
        "pinned piece table — the oracle-checkable face of the DP that "
        "q_unigram_encode's piece stream relies on.  The DuckDB twin "
        "unrolls the DP as one MATERIALIZED CTE per word position "
        "(viterbi_score_oracle_sql), with the float adds running in "
        "the same left-to-right order along the winning path, so "
        "scores agree bit-for-bit before the shared 9-dp round.  "
        "Vocab-scale work over the distinct-word table; the corpus is "
        "touched once by the word explode."
    ),
)
def q_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.unigram import unigram_viterbi_scores

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return unigram_viterbi_scores(docs, _UNI_ENC_PIECES).orderBy("word")


_HH_ORACLE = """
    WITH t AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM (SELECT string_split(text, ' ') AS toks FROM documents)
    )
    SELECT bigram, count(*)::BIGINT AS n
    FROM t GROUP BY bigram HAVING count(*) >= 40
    ORDER BY bigram
    """


@register(
    "q_heavy_hitters",
    _HH_ORACLE,
    doc=(
        "count_min_heavy_hitters (operators/sketches.py): every token "
        "BIGRAM occurring >= 40 times, with its EXACT count — the "
        "count-min sketch's production use: one sketch pass, counters "
        "collected (depth x width BIGINTs) into codegen array-literal "
        "probes, and only rows whose one-sided estimate clears the "
        "threshold reach the exact aggregate — the wide operation runs "
        "on the candidate sliver, never the full vocabulary.  The "
        "oracle is the plain GROUP BY ... HAVING definition, which is "
        "exactly what the sketch path must reproduce (no false "
        "negatives by one-sided error; exact pass kills the false "
        "positives)."
    ),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.sketches import count_min_heavy_hitters

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = tokens("text")
    bigrams = docs.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    return count_min_heavy_hitters(
        bigrams, "bigram", threshold=40, depth=4, width=1024
    ).orderBy("bigram")


# WordPiece fixture vocab (BERT-style: continuations carry '##').
# Full a-z0-9 coverage start+continuation, plus multi-char pieces so
# longest-match-first actually has choices; words containing any other
# character exercise the whole-word [UNK] rule.
_WP_VOCAB = (
    ["the", "th", "in", "on", "an", "re", "er", "or", "at"]
    + ["##ing", "##ion", "##ed", "##er", "##es", "##nd", "##at", "##en",
       "##he", "##is", "##on", "##an"]
    + list("abcdefghijklmnopqrstuvwxyz0123456789")
    + ["##" + c for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
)


def _wp_vocab_values() -> str:
    return ", ".join(
        "('{}')".format(p.replace("'", "''")) for p in sorted(_WP_VOCAB)
    )


@register(
    "q_wordpiece_encode",
    f"""
    WITH RECURSIVE words AS (
      SELECT DISTINCT tok AS word FROM (
        SELECT unnest(list_filter(
          regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '')) AS tok
        FROM documents
      )
    ),
    vocab(piece) AS (VALUES {_wp_vocab_values()}),
    v AS (
      SELECT piece, (piece LIKE '##%') AS cont,
             CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
                  ELSE piece END AS stripped
      FROM vocab
    ),
    matches AS (
      SELECT w.word, u.i AS pos, v.piece, len(v.stripped) AS plen
      FROM words w, unnest(range(1, len(w.word) + 1)) AS u(i), v
      WHERE v.cont = (u.i > 1)
        AND substr(w.word, u.i, len(v.stripped)) = v.stripped
    ),
    best AS (
      SELECT word, pos, arg_max(piece, plen) AS piece, max(plen) AS plen
      FROM matches GROUP BY word, pos
    ),
    walk(word, pos, seq, piece) AS (
      SELECT b.word, 1 + b.plen, 1, b.piece FROM best b WHERE b.pos = 1
      UNION ALL
      SELECT w.word, w.pos + b.plen, w.seq + 1, b.piece
      FROM walk w JOIN best b ON b.word = w.word AND b.pos = w.pos
    ),
    ok AS (
      SELECT w.word FROM words w
      JOIN (SELECT word, max(pos) AS endpos FROM walk GROUP BY word) d
        ON d.word = w.word
      -- len <= 100 mirrors the engine's max_input_chars (BERT's
      -- max_input_chars_per_word): overlong words are whole-word [UNK]
      WHERE d.endpos = len(w.word) + 1 AND len(w.word) <= 100
    )
    SELECT word, seq, piece FROM walk JOIN ok USING (word)
    UNION ALL
    SELECT word, 1 AS seq, '[UNK]' AS piece FROM words
    WHERE word NOT IN (SELECT word FROM ok)
    ORDER BY word, seq
    """,
    doc=(
        "WordPiece encoding (BERT's greedy longest-match-first "
        "inference tokenizer, the third family beside BPE merge-replay "
        "and Unigram Viterbi) over every distinct corpus word with a "
        "pinned vocabulary: continuations carry '##', unmatchable "
        "words collapse whole to [UNK].  The DuckDB twin replays the "
        "greedy walk as a recursive CTE over per-(word, pos) "
        "longest-match tables — the full piece stream is value-hashed, "
        "not just scores."
    ),
)
def q_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.bpe import wordpiece_encode

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.coalesce("text", F.lit(""))), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("word")
        )
        .distinct()
    )
    enc = wordpiece_encode(words, _WP_VOCAB, text_col="word", id_col="word")
    return (
        enc.select("word", F.posexplode("pieces").alias("__i", "piece"))
        .select("word", (F.col("__i") + 1).cast("long").alias("seq"), "piece")
        .orderBy("word", "seq")
    )


@register(
    "q_wordpiece_pair_scores",
    """
    WITH words AS (
      SELECT tok AS word, count(*)::BIGINT AS n FROM (
        SELECT unnest(list_filter(
          regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
          t -> t <> '')) AS tok
        FROM documents
      ) GROUP BY tok
    ),
    syms AS (
      SELECT word, n, u.i AS pos,
             CASE WHEN u.i = 1 THEN substr(word, 1, 1)
                  ELSE '##' || substr(word, u.i, 1) END AS sym
      FROM words, unnest(range(1, len(word) + 1)) AS u(i)
    ),
    symc AS (SELECT sym, sum(n)::BIGINT AS sc FROM syms GROUP BY sym),
    pairs AS (
      SELECT a.sym AS left_sym, b.sym AS right_sym,
             sum(a.n)::BIGINT AS pair_count
      FROM syms a JOIN syms b ON a.word = b.word AND b.pos = a.pos + 1
      GROUP BY a.sym, b.sym
    ),
    scored AS (
      -- pinned as BIGINT / (DOUBLE * BIGINT): bit-identical IEEE double
      -- vs the engine's long / (double * long)
      SELECT left_sym, right_sym, pair_count,
             pair_count / (cl.sc::DOUBLE * cr.sc) AS score
      FROM pairs
      JOIN symc cl ON cl.sym = left_sym
      JOIN symc cr ON cr.sym = right_sym
    )
    SELECT row_number() OVER
             (ORDER BY score DESC, left_sym, right_sym)::INT AS rank,
           left_sym, right_sym, pair_count, score
    FROM scored
    ORDER BY score DESC, left_sym, right_sym
    LIMIT 150
    """,
    doc=(
        "wordpiece_pair_scores (operators/bpe.py): the oracle face of "
        "WordPiece TRAINING (Schuster & Nakajima likelihood-scored "
        "merges — closes the tokenizer-training family: BPE and "
        "Unigram both already train), mirroring the q_bpe_pair_counts "
        "pattern: the round-0 scored pair table, top-150 under the "
        "trainer's exact argmax order (score desc, pair asc).  Rank 1 "
        "IS train_wordpiece's first merge (pinned by test).  Scores "
        "are BIT-identical across engines: both compute "
        "count / (double(left_total) * right_total) in IEEE double — "
        "no rounding, the raw doubles hash.  Plan: one corpus-scale "
        "word count, vocab-scale pair+symbol counts meeting through "
        "broadcast joins, distributed partial top-k; the row_number "
        "window touches 150 rows."
    ),
)
def q_wordpiece_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.bpe import wordpiece_pair_scores

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return wordpiece_pair_scores(docs, top_k=150).orderBy("rank")


@register(
    "q_train_ngram_lm",
    """
    WITH t AS (
      SELECT regexp_split_to_array(coalesce(text, ''),
                                   '[ \\t\\n\\x0b\\f\\r]+') AS tk
      FROM documents
    ),
    grams AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2
      FROM t, unnest(range(1, len(tk))) AS u(i)
      WHERE tk[i] <> '' AND tk[i + 1] <> ''
    ),
    gc AS (
      SELECT w1 || ' ' || w2 AS ngram, w1, count(*)::BIGINT AS n_count
      FROM grams GROUP BY w1, w2
    ),
    cc AS (SELECT w1, sum(n_count)::BIGINT AS ctx_count FROM gc GROUP BY w1),
    v AS (
      SELECT count(DISTINCT tok)::BIGINT AS vn FROM (
        SELECT unnest(tk) AS tok FROM t
      ) WHERE tok <> ''
    ),
    p AS (
      -- operand order/types pinned to the engine: every op a
      -- correctly-rounded IEEE primitive (no log10 in the hash gate)
      SELECT ngram, n_count, ctx_count,
             round((n_count::DOUBLE + '0.1'::DOUBLE)
                   / (ctx_count::DOUBLE + '0.1'::DOUBLE * vn::DOUBLE),
                   9) AS prob
      FROM gc JOIN cc USING (w1) CROSS JOIN v
    )
    SELECT row_number() OVER
             (ORDER BY n_count DESC, ngram)::INT AS rank,
           ngram, n_count, ctx_count, prob
    FROM p
    ORDER BY n_count DESC, ngram
    LIMIT 150
    """,
    doc=(
        "train_ngram_lm (operators/text.py): the CCNet loop's missing "
        "half — train the bigram LM perplexity_buckets scores with "
        "(Lidstone add-k over observed grams; unseen grams are the "
        "scorer's flat OOV), exportable via write_arpa and reloadable "
        "with load_arpa (roundtrip bit-identical, unit-tested with the "
        "full train->export->reload->score loop).  Top-150 grams by "
        "(count desc, ngram asc), hash-gating counts, context sums and "
        "the smoothed PROBABILITY — a pure ratio of exact counts, so "
        "cross-engine bit-parity needs only correctly-rounded IEEE "
        "ops; the log10 face is pinned by unit test instead (libm "
        "log10 is not correctly rounded across engines).  Plan: grams "
        "ride the scan, one map-side-combined gram count, context "
        "sums derive from the gram table."
    ),
)
def q_train_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from metalpipe_spark.operators.text import train_ngram_lm

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    lm = train_ngram_lm(docs, n=2, k=0.1)
    order = [F.desc("n_count"), F.asc("ngram")]
    topk = lm.orderBy(*order).limit(150)
    w = Window.orderBy(*order)
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "ngram",
        "n_count",
        "ctx_count",
        F.round("prob", 9).alias("prob"),
    )


# Fixed literal backoff LM for q_backoff_logprob — the SINGLE source of
# truth both engines consume (Spark createDataFrame + SQL VALUES), so
# the row gates the backoff CHAIN arithmetic without any libm log10 in
# the hash path (the house rule: logprobs here are 9-dp literals).
# Tokens chosen from the documents table's actual vocabulary so every
# chain branch fires at sf0.01: top-order hit, backoff-with-weight,
# backoff-without-weight, flat OOV.
_BO_LM_ROWS = [
    # (ngram, lm_order, logprob, log_backoff)
    ("join", 1, -1.1, -0.3),
    ("hash", 1, -1.2, -0.25),
    ("row", 1, -1.15, None),
    ("batch", 1, -1.3, -0.2),
    ("scan", 1, -1.25, None),
    ("table", 1, -1.05, -0.35),
    ("key", 1, -1.4, None),
    ("value", 1, -1.35, None),
    ("join hash", 2, -0.9, None),
    ("hash join", 2, -0.85, None),
    ("table scan", 2, -0.6, None),
    ("batch row", 2, -1.0, None),
    ("join table", 2, -0.95, None),
]


def _bo_lm_values_sql() -> str:
    rows = ", ".join(
        "('{}', {}, {}, {})".format(
            g, o, repr(lp), "NULL" if bo is None else repr(bo)
        )
        for g, o, lp, bo in _BO_LM_ROWS
    )
    return f"(VALUES {rows})"


def _lm_top75(lm: DataFrame) -> DataFrame:
    """The backoff-LM rows' shared tail: the top 75 grams per order by
    (count desc, ngram), with 9-dp probabilities and backoff weights."""
    from pyspark.sql import Window

    w = Window.partitionBy("order").orderBy(
        F.desc("n_count"), F.asc("ngram")
    )
    return (
        lm.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 75)
        .select(
            "rank",
            F.col("order").alias("lm_order"),
            "ngram",
            "n_count",
            "ctx_count",
            F.round("prob", 9).alias("prob"),
            F.round("backoff", 9).alias("backoff"),
        )
        .orderBy("lm_order", "rank")
    )


@register(
    "q_train_backoff_lm",
    """
    WITH t AS (
      SELECT regexp_split_to_array(coalesce(text, ''),
                                   '[ \\t\\n\\x0b\\f\\r]+') AS tk
      FROM documents
    ),
    uni AS (
      SELECT tok AS ngram, count(*)::BIGINT AS n_count
      FROM (SELECT unnest(tk) AS tok FROM t)
      WHERE tok <> '' GROUP BY tok
    ),
    tot AS (SELECT sum(n_count)::BIGINT AS ctx_count FROM uni),
    big AS (
      SELECT w1, w2, w1 || ' ' || w2 AS ngram, count(*)::BIGINT AS n_count
      FROM (
        SELECT tk[i] AS w1, tk[i + 1] AS w2
        FROM t, unnest(range(1, len(tk))) AS u(i)
        WHERE tk[i] <> '' AND tk[i + 1] <> ''
      ) GROUP BY w1, w2
    ),
    cst AS (
      SELECT w1, sum(n_count)::BIGINT AS ctx_count,
             count(*)::BIGINT AS types
      FROM big GROUP BY w1
    ),
    p1 AS (
      SELECT uni.ngram, uni.n_count, tot.ctx_count,
             uni.n_count::DOUBLE / tot.ctx_count::DOUBLE AS prob
      FROM uni CROSS JOIN tot
    ),
    p2 AS (
      -- operand order pinned to the engine: (double(c) - D) / denom
      SELECT big.ngram, big.w1, big.w2, big.n_count, cst.ctx_count,
             (big.n_count::DOUBLE - '0.75'::DOUBLE)
               / cst.ctx_count::DOUBLE AS prob
      FROM big JOIN cst USING (w1)
    ),
    resid AS (
      -- residual sums the lower order's 9-dp probs in DECIMAL
      -- (order-independent), exactly the trainer's rule
      SELECT p2.w1, sum(round(p1.prob, 9)::DECIMAL(28,12)) AS slo
      FROM p2 JOIN p1 ON p1.ngram = p2.w2 GROUP BY p2.w1
    ),
    bo AS (
      SELECT cst.w1 AS ngram,
             CASE WHEN '1.0'::DOUBLE - resid.slo::DOUBLE <= '0.0'::DOUBLE
                  THEN '0.0'::DOUBLE
                  ELSE (('0.75'::DOUBLE * cst.types::DOUBLE)
                          / cst.ctx_count::DOUBLE)
                       / ('1.0'::DOUBLE - resid.slo::DOUBLE)
             END AS backoff
      FROM cst JOIN resid USING (w1)
    ),
    lvl AS (
      SELECT p1.ngram, 1 AS lm_order, p1.n_count, p1.ctx_count, p1.prob,
             bo.backoff
      FROM p1 LEFT JOIN bo ON bo.ngram = p1.ngram
      UNION ALL
      SELECT ngram, 2 AS lm_order, n_count, ctx_count, prob,
             NULL::DOUBLE AS backoff
      FROM p2
    ),
    ranked AS (
      SELECT row_number() OVER (
               PARTITION BY lm_order ORDER BY n_count DESC, ngram
             )::INT AS rank,
             lm_order, ngram, n_count, ctx_count,
             round(prob, 9) AS prob, round(backoff, 9) AS backoff
      FROM lvl
    )
    SELECT rank, lm_order, ngram, n_count, ctx_count, prob, backoff
    FROM ranked WHERE rank <= 75
    ORDER BY lm_order, rank
    """,
    doc=(
        "train_backoff_lm (operators/text.py): multi-order backoff LM "
        "— absolute discounting (D=0.75) with exact Katz backoff "
        "weights, the KenLM model shape behind CCNet perplexity "
        "filtering, upgrading the single-order add-k trainer.  Top-75 "
        "grams per order by (count desc, ngram), hash-gating counts, "
        "context denominators, the DISCOUNTED probability AND the "
        "backoff weight — every gated value a ratio of exact counts "
        "through correctly-rounded IEEE ops (the residual sums 9-dp "
        "lower-order probs in DECIMAL); the log10 faces are pinned by "
        "unit test per the house libm rule.  Plan: ONE corpus pass "
        "builds every order's grams, one map-side-combined "
        "(order, ngram) count, gram-table-scale joins after."
    ),
)
def q_train_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import train_backoff_lm

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    lm = train_backoff_lm(docs, n=2, discount=0.75)
    return _lm_top75(lm)


@register(
    "q_trained_scorer_profile",
    """
    WITH t0 AS (
      SELECT doc_id,
             regexp_split_to_array(coalesce(text, ''),
                                   '[ \\t\\n\\x0b\\f\\r]+') AS tk
      FROM documents
    ),
    t AS (SELECT tk FROM t0 WHERE doc_id % 2 = 0),
    uni AS (
      SELECT tok AS ngram, count(*)::BIGINT AS n_count
      FROM (SELECT unnest(tk) AS tok FROM t)
      WHERE tok <> '' GROUP BY tok
    ),
    tot AS (SELECT sum(n_count)::BIGINT AS ctx_count FROM uni),
    big AS (
      SELECT w1, w2, count(*)::BIGINT AS n_count
      FROM (
        SELECT tk[i] AS w1, tk[i + 1] AS w2
        FROM t, unnest(range(1, len(tk))) AS u(i)
        WHERE tk[i] <> '' AND tk[i + 1] <> ''
      ) GROUP BY w1, w2
    ),
    cst AS (
      SELECT w1, sum(n_count)::BIGINT AS ctx_count,
             count(*)::BIGINT AS types
      FROM big GROUP BY w1
    ),
    p1 AS (
      SELECT uni.ngram, uni.n_count::DOUBLE / tot.ctx_count::DOUBLE AS prob
      FROM uni CROSS JOIN tot
    ),
    p2 AS (
      SELECT big.w1, big.w2,
             (big.n_count::DOUBLE - '0.75'::DOUBLE)
               / cst.ctx_count::DOUBLE AS prob
      FROM big JOIN cst USING (w1)
    ),
    resid AS (
      SELECT p2.w1, sum(round(p1.prob, 9)::DECIMAL(28,12)) AS slo
      FROM p2 JOIN p1 ON p1.ngram = p2.w2 GROUP BY p2.w1
    ),
    bo AS (
      SELECT cst.w1 AS ngram,
             CASE WHEN '1.0'::DOUBLE - resid.slo::DOUBLE <= '0.0'::DOUBLE
                  THEN '0.0'::DOUBLE
                  ELSE (('0.75'::DOUBLE * cst.types::DOUBLE)
                          / cst.ctx_count::DOUBLE)
                       / ('1.0'::DOUBLE - resid.slo::DOUBLE)
             END AS backoff
      FROM cst JOIN resid USING (w1)
    ),
    g AS (
      SELECT doc_id, (len(tk) - 1)::BIGINT AS nn,
             tk[i] AS w1, tk[i + 1] AS w2
      FROM t0, unnest(range(1, len(tk))) AS u(i)
      WHERE doc_id % 2 = 1 AND len(tk) >= 2
      UNION ALL
      SELECT doc_id, 1::BIGINT AS nn, NULL AS w1, NULL AS w2
      FROM t0 WHERE doc_id % 2 = 1 AND len(tk) < 2
    ),
    s AS (
      SELECT g.doc_id, g.nn,
             CASE WHEN hi.prob IS NOT NULL THEN 2
                  WHEN lo.prob IS NOT NULL THEN 1
                  ELSE 0 END AS d,
             CASE WHEN hi.prob IS NOT NULL THEN round(hi.prob, 9)
                  WHEN lo.prob IS NOT NULL THEN
                    round(('1.0'::DOUBLE
                           * coalesce(bo.backoff, '1.0'::DOUBLE))
                          * lo.prob, 9)
                  ELSE '0.0'::DOUBLE END AS lin
      FROM g
      LEFT JOIN p2 hi ON hi.w1 = g.w1 AND hi.w2 = g.w2
      LEFT JOIN p1 lo ON lo.ngram = g.w2
      LEFT JOIN bo ON bo.ngram = g.w1
    )
    SELECT doc_id, nn AS n_grams,
           (count(*) FILTER (WHERE d = 2))::BIGINT AS hit_2,
           (count(*) FILTER (WHERE d = 1))::BIGINT AS hit_1,
           (count(*) FILTER (WHERE d = 0))::BIGINT AS oov_count,
           sum(lin::DECIMAL(28,12))::DOUBLE AS lin_score
    FROM s GROUP BY doc_id, nn
    ORDER BY doc_id
    """,
    doc=(
        "backoff_chain_profile (operators/text.py): the composed "
        "TRAIN -> SCORE path oracle-hashed end-to-end — closes r16 "
        "'What's wrong' #2.  train_backoff_lm(n=2, D=0.75) on the "
        "EVEN doc_id slice, then every ODD doc scored gram-by-gram "
        "through the trained model's backoff chain: per-doc "
        "resolution-depth counts (top-order hit / unigram backoff / "
        "OOV) are integer faces, and lin_score accumulates each "
        "gram's 9-dp-rounded LINEAR chain mass (paid backoff weights "
        "x hit-level prob, pinned descending multiply order) in "
        "DECIMAL(28,12) — counts and linear ratios only, no libm in "
        "the hash path; the log10 twin (ngram_logprob_backoff) "
        "shares this exact gram/probe construction and stays "
        "property-test-pinned.  Plan: one-pass trainer on the train "
        "slice, grams ride the score-slice scan, 2n-1 broadcast "
        "probes, one map-side-combined doc rollup."
    ),
)
def q_trained_scorer_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import (
        backoff_chain_profile,
        train_backoff_lm,
    )

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    lm = train_backoff_lm(
        docs.where(F.col("doc_id") % 2 == 0), n=2, discount=0.75
    )
    return backoff_chain_profile(
        docs.where(F.col("doc_id") % 2 == 1), lm, n=2
    ).orderBy("doc_id")


@register(
    "q_prune_backoff_lm",
    """
    WITH t AS (
      SELECT regexp_split_to_array(coalesce(text, ''),
                                   '[ \\t\\n\\x0b\\f\\r]+') AS tk
      FROM documents
    ),
    uni AS (
      SELECT tok AS ngram, count(*)::BIGINT AS n_count
      FROM (SELECT unnest(tk) AS tok FROM t)
      WHERE tok <> '' GROUP BY tok
    ),
    tot AS (SELECT sum(n_count)::BIGINT AS ctx_count FROM uni),
    big AS (
      SELECT w1, w2, w1 || ' ' || w2 AS ngram, count(*)::BIGINT AS n_count
      FROM (
        SELECT tk[i] AS w1, tk[i + 1] AS w2
        FROM t, unnest(range(1, len(tk))) AS u(i)
        WHERE tk[i] <> '' AND tk[i + 1] <> ''
      ) GROUP BY w1, w2
    ),
    cst AS (
      SELECT w1, sum(n_count)::BIGINT AS ctx_count FROM big GROUP BY w1
    ),
    p1 AS (
      SELECT uni.ngram, uni.n_count, tot.ctx_count,
             uni.n_count::DOUBLE / tot.ctx_count::DOUBLE AS prob
      FROM uni CROSS JOIN tot
    ),
    p2kept AS (
      -- the prune rule, SQL-replayable: bigram count >= 2 (probs are
      -- the trainer's, untouched by pruning)
      SELECT big.ngram, big.w1, big.w2, big.n_count, cst.ctx_count,
             (big.n_count::DOUBLE - '0.75'::DOUBLE)
               / cst.ctx_count::DOUBLE AS prob
      FROM big JOIN cst USING (w1)
      WHERE big.n_count >= 2
    ),
    bo AS (
      -- exact renormalization over KEPT rows: both sums 9-dp DECIMAL
      -- (order-independent), non-positive num/den -> 0
      SELECT w1 AS ngram,
             CASE WHEN '1.0'::DOUBLE - snum::DOUBLE <= '0.0'::DOUBLE
                    OR '1.0'::DOUBLE - sden::DOUBLE <= '0.0'::DOUBLE
                  THEN '0.0'::DOUBLE
                  ELSE ('1.0'::DOUBLE - snum::DOUBLE)
                       / ('1.0'::DOUBLE - sden::DOUBLE)
             END AS backoff
      FROM (
        SELECT p2kept.w1,
               sum(round(p2kept.prob, 9)::DECIMAL(28,12)) AS snum,
               sum(round(p1.prob, 9)::DECIMAL(28,12)) AS sden
        FROM p2kept JOIN p1 ON p1.ngram = p2kept.w2
        GROUP BY p2kept.w1
      )
    ),
    lvl AS (
      SELECT p1.ngram, 1 AS lm_order, p1.n_count, p1.ctx_count, p1.prob,
             bo.backoff
      FROM p1 LEFT JOIN bo ON bo.ngram = p1.ngram
      UNION ALL
      SELECT ngram, 2 AS lm_order, n_count, ctx_count, prob,
             NULL::DOUBLE AS backoff
      FROM p2kept
    ),
    ranked AS (
      SELECT row_number() OVER (
               PARTITION BY lm_order ORDER BY n_count DESC, ngram
             )::INT AS rank,
             lm_order, ngram, n_count, ctx_count,
             round(prob, 9) AS prob, round(backoff, 9) AS backoff
      FROM lvl
    )
    SELECT rank, lm_order, ngram, n_count, ctx_count, prob, backoff
    FROM ranked WHERE rank <= 75
    ORDER BY lm_order, rank
    """,
    doc=(
        "prune_lm (operators/text.py): count-threshold LM pruning "
        "with EXACT backoff renormalization (SRILM rule: kept probs "
        "untouched, b = (1 - Σ kept p_k)/(1 - Σ kept p_lower) over "
        "9-dp DECIMAL sums) — the r16 verdict's task 2, what keeps a "
        "crawl-scale model inside the scorer's broadcast envelope and "
        "write_arpa's driver-collect bound.  Here: train the absolute "
        "n=2 model, prune singleton bigrams (threshold 2 — the "
        "SQL-replayable rule), hash-gate kept counts/probs AND the "
        "recomputed weights; contexts losing every continuation go "
        "NULL.  Stolcke entropy pruning shares the operator but is "
        "test-pinned (libm logs, house rule).  Plan: the one-pass "
        "trainer, then model-scale semi-joins (cascades) and one "
        "groupBy(ctx) per order pair — the corpus is never rescanned."
    ),
)
def q_prune_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import prune_lm, train_backoff_lm

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    lm = train_backoff_lm(docs, n=2, discount=0.75)
    pruned = prune_lm(lm, min_counts=2)
    return _lm_top75(pruned)


@register(
    "q_train_kn_lm",
    """
    WITH t AS (
      SELECT regexp_split_to_array(coalesce(text, ''),
                                   '[ \\t\\n\\x0b\\f\\r]+') AS tk
      FROM documents
    ),
    uni AS (
      SELECT tok AS ngram, count(*)::BIGINT AS n_count
      FROM (SELECT unnest(tk) AS tok FROM t)
      WHERE tok <> '' GROUP BY tok
    ),
    big AS (
      SELECT w1, w2, w1 || ' ' || w2 AS ngram, count(*)::BIGINT AS n_count
      FROM (
        SELECT tk[i] AS w1, tk[i + 1] AS w2
        FROM t, unnest(range(1, len(tk))) AS u(i)
        WHERE tk[i] <> '' AND tk[i + 1] <> ''
      ) GROUP BY w1, w2
    ),
    cc1 AS (
      -- LEFT-continuation count: #distinct predecessors of w over the
      -- bigram TYPE table (distinct rows make COUNT(*) the distinct
      -- count)
      SELECT w2 AS ngram, count(*)::BIGINT AS cc FROM big GROUP BY w2
    ),
    e1 AS (
      SELECT uni.ngram, coalesce(cc1.cc, 0)::BIGINT AS n_count
      FROM uni LEFT JOIN cc1 USING (ngram)
    ),
    s1 AS (
      SELECT count(*)::BIGINT AS v, sum(n_count)::BIGINT AS d,
             (count(*) FILTER (WHERE n_count > 0))::BIGINT AS ty
      FROM e1
    ),
    p1 AS (
      -- operand order pinned to the engine: term + gamma * uniform9,
      -- every step a correctly-rounded IEEE primitive
      SELECT e1.ngram, e1.n_count, s1.d AS ctx_count,
             CASE WHEN s1.d = 0
                  THEN round('1.0'::DOUBLE / s1.v::DOUBLE, 9)
                  ELSE (CASE WHEN e1.n_count > 0
                             THEN e1.n_count::DOUBLE - '0.75'::DOUBLE
                             ELSE '0.0'::DOUBLE END) / s1.d::DOUBLE
                       + (('0.75'::DOUBLE * s1.ty::DOUBLE)
                            / s1.d::DOUBLE)
                         * round('1.0'::DOUBLE / s1.v::DOUBLE, 9)
             END AS prob
      FROM e1 CROSS JOIN s1
    ),
    cst AS (
      SELECT w1, sum(n_count)::BIGINT AS d, count(*)::BIGINT AS ty
      FROM big GROUP BY w1
    ),
    p2 AS (
      SELECT big.ngram, big.n_count, cst.d AS ctx_count,
             (big.n_count::DOUBLE - '0.75'::DOUBLE) / cst.d::DOUBLE
               + (('0.75'::DOUBLE * cst.ty::DOUBLE) / cst.d::DOUBLE)
                 * round(p1s.prob, 9) AS prob
      FROM big JOIN cst USING (w1)
      JOIN p1 p1s ON p1s.ngram = big.w2
    ),
    bo AS (
      SELECT w1 AS ngram,
             ('0.75'::DOUBLE * ty::DOUBLE) / d::DOUBLE AS backoff
      FROM cst
    ),
    lvl AS (
      SELECT p1.ngram, 1 AS lm_order, p1.n_count, p1.ctx_count, p1.prob,
             bo.backoff
      FROM p1 LEFT JOIN bo ON bo.ngram = p1.ngram
      UNION ALL
      SELECT ngram, 2 AS lm_order, n_count, ctx_count, prob,
             NULL::DOUBLE AS backoff
      FROM p2
    ),
    ranked AS (
      SELECT row_number() OVER (
               PARTITION BY lm_order ORDER BY n_count DESC, ngram
             )::INT AS rank,
             lm_order, ngram, n_count, ctx_count,
             round(prob, 9) AS prob, round(backoff, 9) AS backoff
      FROM lvl
    )
    SELECT rank, lm_order, ngram, n_count, ctx_count, prob, backoff
    FROM ranked WHERE rank <= 75
    ORDER BY lm_order, rank
    """,
    doc=(
        "train_backoff_lm(smoothing='kn') (operators/text.py): "
        "INTERPOLATED KNESER-NEY — the KenLM default and the r16 "
        "verdict's top task.  Lower orders replace raw counts with "
        "left-continuation counts (cc(w) = #distinct predecessors "
        "over the bigram type table), unigrams interpolate with the "
        "uniform 1/|V| floor, and the top order folds "
        "gamma(ctx)*p_lower into every seen gram; the stored backoff "
        "IS gamma, so the scorer consumes the table unchanged.  "
        "Hash-gates continuation counts, denominators, interpolated "
        "probs AND gamma backoffs: every value a pinned-operand chain "
        "of correctly-rounded IEEE ops over exact counts (consumed "
        "lower levels 9-dp rounded, the residual rule); log10 faces "
        "pinned by unit test per the house libm rule.  Plan: same "
        "ONE-corpus-pass gram build as the absolute path; "
        "continuation counts are one gram-table-scale aggregate per "
        "level (group order-(k+1) grams by dropped-first-word "
        "suffix); everything downstream is gram-table-scale."
    ),
)
def q_train_kn_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import train_backoff_lm

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    lm = train_backoff_lm(docs, n=2, discount=0.75, smoothing="kn")
    return _lm_top75(lm)


# Chen-Goodman modified-KN discount estimation as a SQL fragment —
# replayed per level from that level's count-of-counts CTE (columns
# n1..n4), matching _mkn_discounts' pinned operand order exactly:
# Y = n1/(n1 + 2.0*n2); D_i = i - ((i+1)*Y)*n_{i+1}/n_i with the
# i-0.5 degenerate fallback and the 1e-6 lower clamp.
_MKN_DISC_SQL = """
      SELECT
        greatest(CASE WHEN n1 > 0
          THEN '1.0'::DOUBLE - (('2.0'::DOUBLE * y) * n2::DOUBLE)
               / n1::DOUBLE
          ELSE '0.5'::DOUBLE END, '1e-06'::DOUBLE) AS d1,
        greatest(CASE WHEN n2 > 0
          THEN '2.0'::DOUBLE - (('3.0'::DOUBLE * y) * n3::DOUBLE)
               / n2::DOUBLE
          ELSE '1.5'::DOUBLE END, '1e-06'::DOUBLE) AS d2,
        greatest(CASE WHEN n3 > 0
          THEN '3.0'::DOUBLE - (('4.0'::DOUBLE * y) * n4::DOUBLE)
               / n3::DOUBLE
          ELSE '2.5'::DOUBLE END, '1e-06'::DOUBLE) AS d3
      FROM (
        SELECT n1, n2, n3, n4,
               CASE WHEN n1 + 2 * n2 > 0
                    THEN n1::DOUBLE
                         / (n1::DOUBLE + '2.0'::DOUBLE * n2::DOUBLE)
                    ELSE '0.0'::DOUBLE END AS y
        FROM {COC}
      )
"""


@register(
    "q_train_mkn_lm",
    """
    WITH t AS (
      SELECT regexp_split_to_array(coalesce(text, ''),
                                   '[ \\t\\n\\x0b\\f\\r]+') AS tk
      FROM documents
    ),
    uni AS (
      SELECT tok AS ngram, count(*)::BIGINT AS n_count
      FROM (SELECT unnest(tk) AS tok FROM t)
      WHERE tok <> '' GROUP BY tok
    ),
    big AS (
      SELECT w1, w2, w1 || ' ' || w2 AS ngram, count(*)::BIGINT AS n_count
      FROM (
        SELECT tk[i] AS w1, tk[i + 1] AS w2
        FROM t, unnest(range(1, len(tk))) AS u(i)
        WHERE tk[i] <> '' AND tk[i + 1] <> ''
      ) GROUP BY w1, w2
    ),
    cc1 AS (
      SELECT w2 AS ngram, count(*)::BIGINT AS cc FROM big GROUP BY w2
    ),
    coc1 AS (
      SELECT (count(*) FILTER (WHERE cc = 1))::BIGINT AS n1,
             (count(*) FILTER (WHERE cc = 2))::BIGINT AS n2,
             (count(*) FILTER (WHERE cc = 3))::BIGINT AS n3,
             (count(*) FILTER (WHERE cc = 4))::BIGINT AS n4
      FROM cc1
    ),
    coc2 AS (
      SELECT (count(*) FILTER (WHERE n_count = 1))::BIGINT AS n1,
             (count(*) FILTER (WHERE n_count = 2))::BIGINT AS n2,
             (count(*) FILTER (WHERE n_count = 3))::BIGINT AS n3,
             (count(*) FILTER (WHERE n_count = 4))::BIGINT AS n4
      FROM big
    ),
    disc1 AS ({DISC1}),
    disc2 AS ({DISC2}),
    e1 AS (
      SELECT uni.ngram, coalesce(cc1.cc, 0)::BIGINT AS n_count
      FROM uni LEFT JOIN cc1 USING (ngram)
    ),
    s1 AS (
      SELECT count(*)::BIGINT AS v, sum(n_count)::BIGINT AS d,
             (count(*) FILTER (WHERE n_count = 1))::BIGINT AS t1,
             (count(*) FILTER (WHERE n_count = 2))::BIGINT AS t2,
             (count(*) FILTER (WHERE n_count >= 3))::BIGINT AS t3
      FROM e1
    ),
    p1 AS (
      SELECT e1.ngram, e1.n_count, s1.d AS ctx_count,
             CASE WHEN s1.d = 0
                  THEN round('1.0'::DOUBLE / s1.v::DOUBLE, 9)
                  ELSE (CASE WHEN e1.n_count = 1
                             THEN e1.n_count::DOUBLE - disc1.d1
                             WHEN e1.n_count = 2
                             THEN e1.n_count::DOUBLE - disc1.d2
                             WHEN e1.n_count >= 3
                             THEN e1.n_count::DOUBLE - disc1.d3
                             ELSE '0.0'::DOUBLE END) / s1.d::DOUBLE
                       + ((disc1.d1 * s1.t1::DOUBLE
                           + disc1.d2 * s1.t2::DOUBLE
                           + disc1.d3 * s1.t3::DOUBLE)
                            / s1.d::DOUBLE)
                         * round('1.0'::DOUBLE / s1.v::DOUBLE, 9)
             END AS prob
      FROM e1 CROSS JOIN s1 CROSS JOIN disc1
    ),
    cst AS (
      SELECT w1, sum(n_count)::BIGINT AS d,
             (count(*) FILTER (WHERE n_count = 1))::BIGINT AS t1,
             (count(*) FILTER (WHERE n_count = 2))::BIGINT AS t2,
             (count(*) FILTER (WHERE n_count >= 3))::BIGINT AS t3
      FROM big GROUP BY w1
    ),
    p2 AS (
      SELECT big.ngram, big.n_count, cst.d AS ctx_count,
             (CASE WHEN big.n_count = 1
                   THEN big.n_count::DOUBLE - disc2.d1
                   WHEN big.n_count = 2
                   THEN big.n_count::DOUBLE - disc2.d2
                   ELSE big.n_count::DOUBLE - disc2.d3 END)
               / cst.d::DOUBLE
               + ((disc2.d1 * cst.t1::DOUBLE
                   + disc2.d2 * cst.t2::DOUBLE
                   + disc2.d3 * cst.t3::DOUBLE) / cst.d::DOUBLE)
                 * round(p1s.prob, 9) AS prob
      FROM big JOIN cst USING (w1)
      JOIN p1 p1s ON p1s.ngram = big.w2
      CROSS JOIN disc2
    ),
    bo AS (
      SELECT w1 AS ngram,
             (disc2.d1 * t1::DOUBLE + disc2.d2 * t2::DOUBLE
              + disc2.d3 * t3::DOUBLE) / d::DOUBLE AS backoff
      FROM cst CROSS JOIN disc2
    ),
    lvl AS (
      SELECT p1.ngram, 1 AS lm_order, p1.n_count, p1.ctx_count, p1.prob,
             bo.backoff
      FROM p1 LEFT JOIN bo ON bo.ngram = p1.ngram
      UNION ALL
      SELECT ngram, 2 AS lm_order, n_count, ctx_count, prob,
             NULL::DOUBLE AS backoff
      FROM p2
    ),
    ranked AS (
      SELECT row_number() OVER (
               PARTITION BY lm_order ORDER BY n_count DESC, ngram
             )::INT AS rank,
             lm_order, ngram, n_count, ctx_count,
             round(prob, 9) AS prob, round(backoff, 9) AS backoff
      FROM lvl
    )
    SELECT rank, lm_order, ngram, n_count, ctx_count, prob, backoff
    FROM ranked WHERE rank <= 75
    ORDER BY lm_order, rank
    """.replace(
        "{DISC1}", _MKN_DISC_SQL.replace("{COC}", "coc1")
    ).replace("{DISC2}", _MKN_DISC_SQL.replace("{COC}", "coc2")),
    doc=(
        "train_backoff_lm(smoothing='mkn', discount='ney') "
        "(operators/text.py): MODIFIED interpolated Kneser-Ney — "
        "KenLM's actual default, completing the smoothing family.  "
        "Three discounts per level applied by gram count, gamma = "
        "(D1*N1 + D2*N2 + D3*N3+)/denom, and the Chen-Goodman "
        "estimates (Y = n1/(n1+2n2), D_i = i-(i+1)*Y*n_{i+1}/n_i, "
        "i-0.5 degenerate fallback) computed by the ENGINE driver-side "
        "from each level's count-of-counts and REPLAYED IN SQL from "
        "the same integer counts with pinned operand order — so the "
        "estimated discounts themselves are inside the hash gate.  "
        "Continuation counts, entries, the uniform floor and the "
        "gamma-as-backoff rule are q_train_kn_lm's; log10 faces stay "
        "unit-test-pinned.  Plan: identical shuffle shape to the KN "
        "row (one corpus pass, gram-table-scale aggregates; the coc "
        "discount estimate is a handful of scalars per level)."
    ),
)
def q_train_mkn_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import train_backoff_lm

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    lm = train_backoff_lm(docs, n=2, discount="ney", smoothing="mkn")
    return _lm_top75(lm)


# Shared scoring CTEs for the backoff-scorer rows (q_backoff_logprob
# and the composed q_ccnet_buckets_backoff): the SAME text feeds both
# oracles, so the chain semantics cannot drift between them.
_BO_SCORE_CTES = """lm(ngram, lm_order, logprob, log_backoff) AS (
      SELECT * FROM {LM}
    ),
    t AS (
      SELECT doc_id,
             regexp_split_to_array(coalesce(text, ''),
                                   '[ \\t\\n\\x0b\\f\\r]+') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, (len(tk) - 1)::BIGINT AS nn,
             tk[i] AS w1, tk[i + 1] AS w2
      FROM t, unnest(range(1, len(tk))) AS u(i)
      WHERE len(tk) >= 2
      UNION ALL
      SELECT doc_id, 1::BIGINT AS nn, NULL AS w1, NULL AS w2
      FROM t WHERE len(tk) < 2
    ),
    s AS (
      SELECT g.doc_id, g.nn,
             CASE WHEN lp2.logprob IS NOT NULL THEN lp2.logprob
                  WHEN lp1.logprob IS NOT NULL THEN
                    ('0.0'::DOUBLE + coalesce(bo1.log_backoff,
                                              '0.0'::DOUBLE))
                      + lp1.logprob
                  ELSE '-8.0'::DOUBLE
             END AS sc
      FROM g
      LEFT JOIN lm lp2
        ON lp2.lm_order = 2 AND lp2.ngram = g.w1 || ' ' || g.w2
      LEFT JOIN lm lp1
        ON lp1.lm_order = 1 AND lp1.ngram = g.w2
      LEFT JOIN lm bo1
        ON bo1.lm_order = 1 AND bo1.ngram = g.w1
    )"""


@register(
    "q_backoff_logprob",
    """
    WITH {CTES}
    SELECT doc_id,
           sum(round(sc, 9)::DECIMAL(18,9))::DOUBLE / nn::DOUBLE
             AS mean_logprob
    FROM s GROUP BY doc_id, nn
    ORDER BY doc_id
    """.replace("{CTES}", _BO_SCORE_CTES).replace(
        "{LM}", _bo_lm_values_sql()
    ),
    doc=(
        "ngram_logprob_backoff (operators/text.py): the backoff-aware "
        "scorer — an unseen bigram pays the context's log10 backoff "
        "weight and falls to unigram evidence; unseen even there is "
        "the flat OOV floor.  The model is a FIXED 9-dp literal table "
        "shared verbatim by both engines (no libm in the hash path), "
        "chosen from the documents vocabulary so every chain branch "
        "fires; exact mode rounds each gram's score to 9 dp and "
        "accumulates DECIMAL(18,9).  Plan: grams ride the scan, "
        "2n-1 broadcast probes against the model-scale table, one "
        "map-side-combined doc rollup — corpus rows shuffle once."
    ),
)
def q_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import ngram_logprob_backoff

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    lm = spark.createDataFrame(
        _BO_LM_ROWS,
        "ngram string, lm_order int, logprob double, log_backoff double",
    ).select(
        "ngram",
        F.col("lm_order").alias("order"),
        "logprob",
        "log_backoff",
    )
    return ngram_logprob_backoff(
        docs, lm, n=2, exact=True
    ).orderBy("doc_id")


@register(
    "q_ccnet_buckets_backoff",
    """
    WITH {CTES},
    allscored AS (
      SELECT doc_id,
             round(sum(round(sc, 9)::DECIMAL(18,9))::DOUBLE
                     / nn::DOUBLE, 6) AS mean_logprob
      FROM s GROUP BY doc_id, nn
    ),
    th AS (
      SELECT quantile_disc(mean_logprob, {P1}) AS t1,
             quantile_disc(mean_logprob, {P2}) AS t2
      FROM allscored
    )
    SELECT doc_id, mean_logprob,
           CASE WHEN mean_logprob > t2 THEN 'head'
                WHEN mean_logprob > t1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM allscored, th
    ORDER BY doc_id
    """.replace("{CTES}", _BO_SCORE_CTES)
    .replace("{LM}", _bo_lm_values_sql())
    .replace("{P1}", repr(_CCNET_P[0]))
    .replace("{P2}", repr(_CCNET_P[1])),
    doc=(
        "CCNet head/middle/tail split over the BACKOFF scorer "
        "(perplexity_buckets(backoff=True)) — the flagship curation "
        "loop end-to-end with KenLM-parity scoring: a doc full of "
        "unseen bigrams is bucketed by real lower-order evidence "
        "instead of a constant floor.  Scoring CTEs are shared "
        "verbatim with q_backoff_logprob (fixed 9-dp literal model, "
        "no libm in the hash path); thresholds are percentile_disc "
        "terciles with the fraction literals shared between engines "
        "(the q_ccnet_buckets step-function rule); exact mode rounds "
        "mean scores to 6 dp before the threshold compare."
    ),
)
def q_ccnet_buckets_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.text import perplexity_buckets

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    lm = spark.createDataFrame(
        _BO_LM_ROWS,
        "ngram string, lm_order int, logprob double, log_backoff double",
    ).select(
        "ngram",
        F.col("lm_order").alias("order"),
        "logprob",
        "log_backoff",
    )
    return perplexity_buckets(
        docs.select("doc_id", "text"), lm, n=2,
        fractions=_CCNET_P, exact=True, backoff=True,
    ).orderBy("doc_id")
