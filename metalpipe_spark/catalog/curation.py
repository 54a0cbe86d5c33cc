"""Corpus-curation catalog queries: deterministic stratified sampling
and quality-based per-language top-k selection (training-data pipeline
surface; see operators/curation.py for the scale rationale)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metalpipe_spark.catalog import register
from metalpipe_spark.materialize import materialize
from metalpipe_spark.operators.curation import stratified_sample, topk_per_group
from metalpipe_spark.operators.text import quality_score
from metalpipe_spark.sources.readers import load_table

_FRACTIONS = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1, "zh": 0.75}

_UNIFORM_SQL = (
    "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT"
    " / 1152921504606846976.0"
)

_FRAC_CASE = "CASE " + " ".join(
    f"WHEN lang = '{v}' THEN {f}" for v, f in sorted(_FRACTIONS.items())
) + " ELSE 0.0 END"


@register(
    "q_stratified_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_UNIFORM_SQL} < {_FRAC_CASE}
    ORDER BY doc_id
    """,
    doc=(
        "Deterministic stratified sampling: per-language keep-fractions "
        "selected on an md5-derived per-row uniform — a pure filter, no "
        "shuffle, reproducible under any partitioning."
    ),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs.select("doc_id", "lang"), "lang", _FRACTIONS, key_col="doc_id"
    ).orderBy("doc_id")


# Mirror of operators/text.quality_score (the q_quality_tokens contract).
_QUALITY_SQL = """
      (len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1)::DOUBLE)
        * (CASE WHEN len(toks) >= 20 THEN 1.0
                ELSE len(toks)::DOUBLE / 20.0 END)
"""


@register(
    "q_curate_top_docs",
    f"""
    WITH t AS (
      SELECT doc_id, lang, regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS toks
      FROM documents
    ), q AS (
      SELECT doc_id, lang, {_QUALITY_SQL} AS quality FROM t
    ), r AS (
      SELECT doc_id, lang, quality,
             row_number() OVER (
               PARTITION BY lang ORDER BY quality DESC, doc_id
             )::BIGINT AS rank
      FROM q
    )
    SELECT doc_id, lang, quality, rank FROM r
    WHERE rank <= 5
    ORDER BY lang, rank
    """,
    doc=(
        "Quality-based curation: top-5 docs per language.  row_number "
        "<= k engages Spark's WindowGroupLimit rank-pushdown, so each "
        "map task ships at most k rows per group into the exchange."
    ),
)
def q_curate_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", quality_score("text").alias("quality")
    )
    return topk_per_group(
        scored, "lang", "quality", k=5, tie_col="doc_id"
    ).orderBy("lang", "rank")


_SHARD_BUDGET = 4096


@register(
    "q_pack_shards",
    f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents
    ), p AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prefix
      FROM t
    )
    SELECT doc_id, n_tokens, (prefix // {_SHARD_BUDGET})::BIGINT AS shard_id
    FROM p ORDER BY doc_id
    """,
    doc=(
        "Token-budget shard packing via distributed exclusive prefix "
        "sum (range partition + per-partition offsets + Arrow cumsum) — "
        "never a single-partition global window."
    ),
)
def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import pack_shards

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return pack_shards(
        sized, "n_tokens", "doc_id", _SHARD_BUDGET
    ).orderBy("doc_id")


_SEQ_LEN = 512


@register(
    "q_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents
    ), p AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prefix
      FROM t
    ), e AS (
      SELECT doc_id, n_tokens, prefix,
             unnest(range((prefix // {_SEQ_LEN})::BIGINT,
                          ((prefix + n_tokens - 1) // {_SEQ_LEN} + 1)::BIGINT)) AS seq_id
      FROM p WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, seq_id,
           (greatest(prefix, seq_id * {_SEQ_LEN}) - prefix)::BIGINT AS doc_start,
           (greatest(prefix, seq_id * {_SEQ_LEN}) - seq_id * {_SEQ_LEN})::BIGINT AS seq_start,
           (least(prefix + n_tokens, (seq_id + 1) * {_SEQ_LEN})
              - greatest(prefix, seq_id * {_SEQ_LEN}))::BIGINT AS piece_len
    FROM e ORDER BY doc_id, seq_id
    """,
    doc=(
        "GPT-style sequence packing manifest: concatenate all documents "
        "in doc_id order and chunk into fixed 512-token sequences, one "
        "row per (document, sequence) overlap with in-doc and in-seq "
        "offsets — documents split across boundaries (the standard "
        "pretraining packing, vs q_pack_shards' document-atomic "
        "shards).  One shuffle (the distributed prefix sum's range "
        "partition); the per-doc sequence range explodes in codegen."
    ),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return pack_sequences(sized, "n_tokens", "doc_id", _SEQ_LEN).orderBy(
        "doc_id", "seq_id"
    )


_MIX_WEIGHTS = {"en": 0.3, "de": 0.25, "fr": 0.2, "es": 0.15, "zh": 0.1}

_MIX_CASE = "CASE " + " ".join(
    f"WHEN lang = '{v}' THEN '{f}'::DOUBLE" for v, f in sorted(_MIX_WEIGHTS.items())
) + " ELSE '0.0'::DOUBLE END"


@register(
    "q_domain_mix",
    f"""
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(n) AS total FROM counts),
    rates AS (
      SELECT lang,
             least('1.0'::DOUBLE,
                   (('0.5'::DOUBLE * total) * {_MIX_CASE}) / n) AS rate
      FROM counts CROSS JOIN tot
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
            / 1152921504606846976.0 < r.rate
    ORDER BY d.doc_id
    """,
    doc=(
        "Domain-mixture resampling (data mixing, cf. DoReMi): per-domain "
        "keep-rates min(1, budget*w/n) derived from a few-row count "
        "aggregate broadcast back onto the scan, rows selected on the "
        "portable md5 uniform — a pure filter after one tiny agg, no "
        "data-scale shuffle, reproducible under any partitioning."
    ),
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import domain_mix_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        domain_mix_sample(
            docs.select("doc_id", "lang"),
            "lang",
            "doc_id",
            _MIX_WEIGHTS,
            budget_frac=0.5,
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "q_temperature_resample",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT sum(pow(n::DOUBLE, '0.5'::DOUBLE)) AS sum_alpha,
             sum(n) AS total
      FROM counts
    ),
    rates AS (
      SELECT lang,
             round(least('1.0'::DOUBLE,
                   (('0.5'::DOUBLE * total)
                      * (pow(n::DOUBLE, '0.5'::DOUBLE) / sum_alpha)) / n),
                   12) AS rate
      FROM counts CROSS JOIN tot
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r USING (lang)
    WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
            / 1152921504606846976.0 < r.rate
    ORDER BY d.doc_id
    """,
    doc=(
        "Temperature-based domain rebalancing (mT5/XLM-R sampling rule): "
        "target shares w_d proportional to n_d^alpha derived FROM the "
        "corpus counts (alpha=0.5 here) flatten the domain distribution "
        "- low-resource domains upsample with no hand-written weights. "
        "Same scan shape as q_domain_mix: few-row count agg broadcast "
        "onto the scan, pure md5-uniform filter, no data-scale shuffle; "
        "rates quantize to 12 decimals so the one engine-varying scalar "
        "(pow) can never flip a selection."
    ),
)
def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import temperature_resample

    docs = load_table(spark, sf_dir, "documents")
    return (
        temperature_resample(
            docs.select("doc_id", "lang"),
            "lang",
            "doc_id",
            alpha=0.5,
            budget_frac=0.5,
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "q_temperature_epochs",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT sum(pow(n::DOUBLE, '0.3'::DOUBLE)) AS sum_alpha,
             sum(n) AS total
      FROM counts
    ),
    rates AS (
      SELECT lang,
             round((('1.0'::DOUBLE * total)
                      * (pow(n::DOUBLE, '0.3'::DOUBLE) / sum_alpha)) / n,
                   12) AS rate
      FROM counts CROSS JOIN tot
    ),
    c AS (
      SELECT d.doc_id, d.lang,
             (floor(r.rate)::BIGINT
              + CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR || ':epoch'), 1, 15))::BIGINT
                       / 1152921504606846976.0 < r.rate - floor(r.rate)
                     THEN 1 ELSE 0 END) AS copies
      FROM documents d JOIN rates r USING (lang)
    )
    SELECT doc_id, lang, unnest(range(copies))::BIGINT AS epoch
    FROM c WHERE copies > 0
    ORDER BY doc_id, epoch
    """,
    doc=(
        "UPSAMPLING temperature rebalance (the mT5 low-resource recipe "
        "without the capped filter's undershoot): true rates w_d*budget/"
        "n_d with no min(1,.) - each row emits floor(r) copies plus one "
        "more on a salted md5 uniform (stochastic rounding), tagged with "
        "an epoch column so shuffle/packing interleave the repeats.  One "
        "few-row agg broadcast onto the scan, codegen sequence-explode, "
        "output-sized; rates quantized to 12 decimals (the pow rule)."
    ),
)
def q_temperature_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import temperature_resample_epochs

    docs = load_table(spark, sf_dir, "documents")
    return (
        temperature_resample_epochs(
            docs.select("doc_id", "lang"),
            "lang",
            "doc_id",
            alpha=0.3,
            budget_frac=1.0,
        )
        .select("doc_id", "lang", "epoch")
        .orderBy("doc_id", "epoch")
    )


@register(
    "q_curriculum_order",
    """
    WITH n AS (SELECT count(*) AS total FROM documents),
    r AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rnk
      FROM documents
    ),
    b AS (
      SELECT doc_id, lang, n_chars, (rnk * 4) // total AS bucket
      FROM r CROSS JOIN n
    )
    SELECT doc_id, lang, n_chars, bucket::BIGINT AS bucket,
           row_number() OVER (
             ORDER BY bucket,
                      md5(doc_id::VARCHAR || ':7') || '|' || doc_id::VARCHAR
           ) - 1 AS train_pos
    FROM b
    ORDER BY train_pos
    """,
    doc=(
        "Curriculum training order (short->long documents here): exact "
        "global score rank cut into 4 equal bands, md5-shuffled within "
        "each band, emitting (bucket, train_pos).  Two passes of the "
        "shared distributed prefix-sum engine over STRUCT order keys + "
        "one few-row count broadcast -- never a single-task global "
        "window; fully replayed by two row_number windows in DuckDB."
    ),
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import curriculum_order

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return curriculum_order(
        docs, "n_chars", "doc_id", n_buckets=4, seed=7
    ).orderBy("train_pos")


@register(
    "q_weighted_sample",
    """
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS w
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, lang,
             round(ln(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                        / 1152921504606846976.0) / w::DOUBLE, 12) AS k
      FROM t WHERE w > 0
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id)
               AS rnk
      FROM keyed
    )
    SELECT doc_id, lang, rnk::BIGINT AS rnk FROM r WHERE rnk <= 20
    ORDER BY lang, doc_id
    """,
    doc=(
        "Deterministic weighted sampling without replacement per "
        "language (Efraimidis-Spirakis A-Res keys over the portable md5 "
        "uniform, log form, quantized to 12 decimals): longer documents "
        "are proportionally likelier to be kept, the sample is "
        "bit-reproducible under any partitioning, and the per-group "
        "top-k rides WindowGroupLimit's map-side partial top-k."
    ),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import weighted_sample_per_group

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("w"),
    )
    return (
        weighted_sample_per_group(sized, "w", "doc_id", k=20, group_col="lang")
        .select("doc_id", "lang", "rnk")
        .orderBy("lang", "doc_id")
    )


@register(
    "q_global_shuffle",
    """
    WITH k AS (
      SELECT doc_id,
             md5(doc_id::VARCHAR || ':0') || '|' || doc_id::VARCHAR AS sk
      FROM documents
    )
    SELECT doc_id, (row_number() OVER (ORDER BY sk) - 1)::BIGINT AS pos
    FROM k ORDER BY pos
    """,
    doc=(
        "Deterministic global shuffle: reproducible pseudo-random "
        "training order via md5 permutation keys ranked by pack_shards' "
        "distributed prefix sum (range partition + per-partition "
        "offsets + Arrow cumsum) — one shuffle, never the single-task "
        "global window the naive row_number() plan collapses to."
    ),
)
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import global_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return (
        global_shuffle(docs.select("doc_id"), "doc_id", seed=0)
        .select("doc_id", "pos")
        .orderBy("pos")
    )


_SPLITS = {"train": 0.8, "validation": 0.1, "test": 0.1}


def _split_oracle(fractions: dict[str, float]) -> str:
    """CASE chain over the same cumulative boundaries (same float
    accumulation order as split_corpus, so the literals are the exact
    doubles the Spark plan compares against)."""
    items = sorted(fractions.items())
    cum = 0.0
    whens = []
    for name, frac in items[:-1]:
        cum += frac
        whens.append(f"WHEN {_UNIFORM_SQL} < '{cum!r}'::DOUBLE THEN '{name}'")
    return f"""
    SELECT doc_id,
           CASE {' '.join(whens)} ELSE '{items[-1][0]}' END AS split
    FROM documents
    ORDER BY doc_id
    """


@register(
    "q_corpus_split",
    _split_oracle(_SPLITS),
    doc=(
        "Deterministic train/validation/test split: membership is where "
        "the row's md5 uniform falls among cumulative fraction "
        "boundaries — reproducible across runs/engines/partitionings, "
        "leakage-free on re-processing (unlike randomSplit).  Pure "
        "map-side projection, no shuffle."
    ),
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import split_corpus

    docs = load_table(spark, sf_dir, "documents")
    return (
        split_corpus(docs.select("doc_id"), "doc_id", _SPLITS)
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


_TOKEN_BUDGET = 1_200


@register(
    "q_token_budget_sample",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(coalesce(text, ''), ' '))::BIGINT AS n_tokens,
             md5(doc_id::VARCHAR) AS ord
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (
               ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    )
    SELECT doc_id, n_tokens FROM c
    WHERE cum <= {_TOKEN_BUDGET}
    ORDER BY doc_id
    """,
    doc=(
        "Token-budget cut: md5-shuffled corpus order, keep documents "
        "while they fit entirely inside a 1200-token budget (document-"
        "atomic inclusive-cumsum rule).  Distributed two-pass prefix "
        "sum — never one global window task."
    ),
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import token_budget_sample
    from metalpipe_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long").alias("n_tokens"),
    )
    ordered = docs.withColumn("__ord", F.md5(F.col("doc_id").cast("string")))
    return (
        token_budget_sample(ordered, "n_tokens", "__ord", _TOKEN_BUDGET)
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    )


def _rep_split_oracle(fractions: dict[str, float]) -> str:
    """Split-CASE over the cluster representative's md5 uniform — the
    leakage-free twin of _split_oracle (same cumulative-boundary float
    accumulation, key = coalesce(cluster_id, doc_id))."""
    from metalpipe_spark.catalog.dedup import _CLUSTER_THRESHOLD, _component_ctes

    uniform = (
        "('0x' || substr(md5(rep::VARCHAR), 1, 15))::BIGINT"
        " / 1152921504606846976.0"
    )
    items = sorted(fractions.items())
    cum = 0.0
    whens = []
    for name, frac in items[:-1]:
        cum += frac
        whens.append(f"WHEN {uniform} < '{cum!r}'::DOUBLE THEN '{name}'")
    return f"""
    WITH RECURSIVE {_component_ctes(16, 8, _CLUSTER_THRESHOLD)},
    reps AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id,
           CASE {' '.join(whens)} ELSE '{items[-1][0]}' END AS split
    FROM reps
    ORDER BY doc_id
    """


@register(
    "q_leakage_free_split",
    _rep_split_oracle(_SPLITS),
    doc=(
        "Leakage-free train/validation/test split: the md5 split key is "
        "the near-dup CLUSTER representative (own id when unclustered), "
        "so no near-duplicate pair ever straddles a split boundary.  "
        "One join to the shared CC stage, then the same pure map-side "
        "projection as q_corpus_split."
    ),
)
def q_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.catalog.dedup import _cluster_assignments
    from metalpipe_spark.operators.curation import leakage_free_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        leakage_free_split(docs, _cluster_assignments(spark, sf_dir), _SPLITS)
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


_DSIR_BUCKETS = 1024


def _dsir_grams_cte() -> str:
    """Hashed unigram+bigram rows per doc — the DuckDB twin of
    operators.curation._hashed_grams (same split, same 60-bit md5
    bucket)."""
    return f"""
    t AS (
      SELECT doc_id, lang,
             regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, lang,
             unnest(list_concat(
               tk,
               CASE WHEN len(tk) >= 2
                 THEN list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i + 1])
                 ELSE []::VARCHAR[] END)) AS gram
      FROM t
    ),
    h AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(gram), 1, 15))::BIGINT % {_DSIR_BUCKETS}
               AS bucket
      FROM g
    ),
    tc AS (
      SELECT bucket, count(*)::BIGINT AS ct FROM h
      WHERE lang = 'en' GROUP BY bucket
    ),
    rc AS (SELECT bucket, count(*)::BIGINT AS cr FROM h GROUP BY bucket),
    ratio AS (
      SELECT rc.bucket,
             round(
               ln((coalesce(tc.ct, 0) + 1.0)
                  / ((SELECT sum(ct) FROM tc) + {_DSIR_BUCKETS}.0))
               - ln((rc.cr + 1.0)
                    / ((SELECT sum(cr) FROM rc) + {_DSIR_BUCKETS}.0)),
               6) AS lr
      FROM rc LEFT JOIN tc USING (bucket)
    ),
    w AS (
      SELECT h.doc_id, count(*)::BIGINT AS n_grams,
             sum(lr::DECIMAL(18,6))::DOUBLE AS log_weight
      FROM h JOIN ratio USING (bucket)
      GROUP BY h.doc_id
    )
    """


@register(
    "q_dsir_weights",
    f"""
    WITH {_dsir_grams_cte()}
    SELECT doc_id, n_grams, log_weight FROM w ORDER BY doc_id
    """,
    doc=(
        "DSIR importance weights (Xie et al., NeurIPS 2023): hashed "
        "unigram+bigram bucket counts for the raw corpus vs the "
        "English-target slice, per-doc log importance = sum of bucket "
        "log-ratios.  The <=1024-row ratio table broadcasts; one "
        "data-scale shuffle (the per-doc rollup).  DECIMAL "
        "accumulation of 6-dp ratios keeps the hash engine-stable."
    ),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_dsir_weights(spark, sf_dir).orderBy("doc_id")


def _shared_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc DSIR weight table ``(doc_id, n_grams, log_weight)``
    — one gram-hash + ratio + rollup pipeline per session serving both
    the weights and the selection rows (3 small columns per doc, so the
    checkpoint is doc-count sized, never corpus-byte sized)."""
    from metalpipe_spark.catalog.dedup import shared_stage
    from metalpipe_spark.operators.curation import dsir_importance_weights

    def build():
        docs = load_table(spark, sf_dir, "documents")
        return dsir_importance_weights(
            docs,
            docs.where(F.col("lang") == "en"),
            buckets=_DSIR_BUCKETS,
            exact=True,
        )

    return shared_stage(spark, ("dsir_weights", sf_dir, _DSIR_BUCKETS), build)


@register(
    "q_dsir_sample",
    f"""
    WITH {_dsir_grams_cte()},
    picked AS (
      SELECT doc_id, log_weight AS dsir_log_weight FROM w
      ORDER BY log_weight DESC, doc_id LIMIT 50
    )
    SELECT d.doc_id, d.lang, d.source, p.dsir_log_weight
    FROM documents d JOIN picked p USING (doc_id)
    ORDER BY d.doc_id
    """,
    doc=(
        "DSIR selection: the 50 highest-importance documents (ties by "
        "minimum id), joined back to the corpus.  Plans as "
        "TakeOrderedAndProject over the weight table — per-partition "
        "partial top-k, never a global sort; the 50-row pick "
        "broadcast-joins the corpus."
    ),
)
def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import dsir_topk_sample

    docs = load_table(spark, sf_dir, "documents")
    weights = _shared_dsir_weights(spark, sf_dir)
    return (
        dsir_topk_sample(
            docs.select("doc_id", "lang", "source"), weights, 50
        )
        .select("doc_id", "lang", "source", "dsir_log_weight")
        .orderBy("doc_id")
    )


@register(
    "q_dsir_gumbel",
    f"""
    WITH {_dsir_grams_cte()},
    keyed AS (
      SELECT doc_id, log_weight,
             round(log_weight / 2.0
                   + (-ln(-ln(
                       ('0x' || substr(md5(doc_id::VARCHAR || '|0'), 1, 15))
                         ::BIGINT / 1152921504606846976.0))),
                   12) AS gkey
      FROM w
    ),
    picked AS (
      SELECT doc_id, log_weight AS dsir_log_weight
      FROM keyed ORDER BY gkey DESC, doc_id LIMIT 50
    )
    SELECT d.doc_id, d.lang, d.source, p.dsir_log_weight
    FROM documents d JOIN picked p USING (doc_id)
    ORDER BY d.doc_id
    """,
    doc=(
        "DSIR Gumbel-top-k resampling (Kool et al., ICML 2019): "
        "inclusion follows softmax(log_weight / T), T=2 — the paper's "
        "importance resampling, made reproducible by drawing each "
        "Gumbel from the portable md5 uniform of (id, seed) and "
        "quantizing keys to 12 dp.  Same partial-top-k plan as the "
        "hard selection."
    ),
)
def q_dsir_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import dsir_topk_sample

    docs = load_table(spark, sf_dir, "documents")
    weights = _shared_dsir_weights(spark, sf_dir)
    return (
        dsir_topk_sample(
            docs.select("doc_id", "lang", "source"), weights, 50,
            temperature=2.0, seed=0,
        )
        .select("doc_id", "lang", "source", "dsir_log_weight")
        .orderBy("doc_id")
    )


@register(
    "q_incremental_dsir",
    f"""
    WITH {_dsir_grams_cte()}
    SELECT doc_id, n_grams, log_weight FROM w
    WHERE doc_id % 2 = 1
    ORDER BY doc_id
    """,
    doc=(
        "Incremental DSIR (the incremental-dedup shape): even-doc_id "
        "batch builds the raw bucket-count store, odd-doc_id batch "
        "folds in and scores against the accumulated distribution — "
        "fold-before-score makes the result EQUAL the full-corpus "
        "q_dsir_weights restricted to the batch (the oracle is exactly "
        "that restriction).  Store state is one mergeable count row "
        "per bucket: <= 1024 rows regardless of corpus size."
    ),
)
def q_incremental_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import (
        dsir_incremental_weights,
        dsir_target_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Materialize the fixed target distribution ONCE (its own contract):
    # both incremental calls consume it twice inside _dsir_ratio, so an
    # un-truncated tc would re-run the en-slice gram-hash scan 4x.
    tc = materialize(
        dsir_target_counts(
            docs.where(F.col("lang") == "en"), buckets=_DSIR_BUCKETS
        ),
        eager=True,
    )
    _, store = dsir_incremental_weights(
        docs.where(F.col("doc_id") % 2 == 0), None, tc,
        buckets=_DSIR_BUCKETS, exact=True,
    )
    weights, _ = dsir_incremental_weights(
        docs.where(F.col("doc_id") % 2 == 1), store, tc,
        buckets=_DSIR_BUCKETS, exact=True,
    )
    return weights.orderBy("doc_id")


_DIFF_ORACLE = """
    WITH o AS (SELECT doc_id, md5(text) AS h FROM documents),
    n AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 1 THEN text || ' v2' ELSE text END) AS h
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, md5(text) AS h
      FROM documents WHERE doc_id % 11 = 0
    ),
    j AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.h AS ho, n.h AS hn
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    )
    SELECT doc_id,
           CASE WHEN ho IS NULL THEN 'added'
                WHEN hn IS NULL THEN 'removed'
                WHEN ho = hn THEN 'unchanged'
                ELSE 'changed' END AS change
    FROM j ORDER BY doc_id
    """


@register(
    "q_corpus_diff",
    _DIFF_ORACLE,
    doc=(
        "corpus_diff (operators/curation.py): snapshot delta between "
        "two corpus versions — the new snapshot drops every 7th doc "
        "(removed), appends ' v2' to every 5th-mod-1 text (changed), "
        "and re-adds every 11th doc under a shifted id (added); "
        "everything else is unchanged.  Each side reduces to (id, "
        "portable md5) at the scan, then ONE full-outer equi-join; "
        "bucket both snapshots on the id for a shuffle-free diff at "
        "corpus scale."
    ),
)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.curation import corpus_diff

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    d = F.col("doc_id")
    new = (
        docs.where(d % 7 != 0)
        .select(
            "doc_id",
            F.when(d % 5 == 1, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.where(d % 11 == 0).select(
                (d + 100000).alias("doc_id"), "text"
            )
        )
    )
    return corpus_diff(docs, new, id_col="doc_id").orderBy("doc_id")
