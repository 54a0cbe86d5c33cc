"""Streaming catalog queries — executed with an availableNow trigger to
a memory sink so the result is a finite DataFrame the DuckDB oracle can
check.  This is the strongest correctness statement available for
streaming: the event-time windowed result equals the batch SQL over the
same data (SURVEY.md §2.11)."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metalpipe_spark.catalog import _scratch_result, register
from metalpipe_spark.sources.readers import _set_conf_once, read_parquet
from metalpipe_spark.streaming.streams import (
    deduplicate_stream,
    file_watchdog,
    run_to_memory,
    sized_state_partitions,
    state_partition_scope,
    stateful_running_stats,
    streaming_join,
    tumbling_window,
)


def _events_state_scope(spark: SparkSession, sf_dir: str):
    """State partitions sized to the events source volume (streams.py:
    state-store instances dominate stateful cost, so their count must
    track state size, not a fixed session default)."""
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        size = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    else:
        size = os.path.getsize(path)
    return state_partition_scope(spark, sized_state_partitions(size))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream.

    The physical type of ``events.ts`` depends on the writer/reader
    combination: TIMESTAMP(NANOS) surfaces as bigint nanos under the
    legacy conf (older driver data), while newer Spark reads micros
    parquet as TIMESTAMP_NTZ.  A hard-coded ``ts long`` schema would
    silently reinterpret micros as nanos — a 1000x timestamp shift — so
    probe the batch reader for the actual type and build the streaming
    schema to match.  ``file_watchdog`` normalizes any NTZ column to
    tz-aware ``timestamp``."""
    _set_conf_once(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    if dict(probe.dtypes).get("ts") == "bigint":
        raw = file_watchdog(
            spark,
            sf_dir,
            "event_id long, ts long, user_id long, event_type string, value double, props string",
            glob="events.parquet",
        )
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return file_watchdog(spark, sf_dir, probe.schema, glob="events.parquet")


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a file-source stream."""
    return file_watchdog(
        spark,
        sf_dir,
        "doc_id long, text string, lang string, source string, n_chars long",
        glob="documents.parquet",
    )


@register(
    "q_stream_window_daily",
    """
    SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start_ms, event_type
    """,
    doc="Streaming tumbling window (event-time) == batch daily aggregate; availableNow backfill semantics.",
)
def q_stream_window_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    agg = tumbling_window(
        stream,
        "ts",
        "1 day",
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(24,8)")).cast("double").alias("total_value"),
        ],
        watermark="1 second",
        group_by=["event_type"],
    )
    with _events_state_scope(spark, sf_dir):
        out = run_to_memory(
            agg, f"cat_stream_{uuid.uuid4().hex[:8]}", spark, output_mode="complete"
        )
    return out.select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "event_type",
        "n",
        "total_value",
    ).orderBy("window_start_ms", "event_type")


@register(
    "q_stream_stats",
    """
    SELECT user_id,
           COUNT(value) AS n,
           MIN(value) AS vmin,
           MAX(value) AS vmax
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc=(
        "Custom stateful operator (applyInPandasWithState running stats — "
        "the reference's per-node accumulator dict, node.py:201): final "
        "per-key state after an availableNow run == batch aggregate.  Only "
        "the accumulation-ORDER-INDEPENDENT outputs (count/min/max) are "
        "hash-compared; the running double total is checked in "
        "test_streaming (summation order differs from SQL by design)."
    ),
)
def q_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir).select("user_id", "value")
    stats = stateful_running_stats(stream, "user_id", "value")
    with _events_state_scope(spark, sf_dir):
        out = run_to_memory(
            stats, f"cat_sstats_{uuid.uuid4().hex[:8]}", spark, output_mode="update"
        )
    # One parquet file -> one availableNow micro-batch -> exactly one
    # state emission per key; max_by(n) guards re-emits if a runner
    # splits input into several batches (the final state has the largest
    # running count, n being monotone per key).
    final = out.groupBy("user_id").agg(
        F.max_by(F.struct("n", "vmin", "vmax"), "n").alias("s")
    )
    return final.select(
        "user_id", F.col("s.n").alias("n"), F.col("s.vmin").alias("vmin"), F.col("s.vmax").alias("vmax")
    ).orderBy("user_id")


@register(
    "q_stream_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
    doc=(
        "Streaming exact-dedup (dropDuplicatesWithinWatermark) run with "
        "availableNow: the surviving KEY SET equals batch DISTINCT (which "
        "row survives per key is arrival-order-dependent, so the oracle "
        "checks the deterministic projection)."
    ),
)
def q_stream_dedup(
    spark: SparkSession, sf_dir: str, watermark: str = "365 days"
) -> DataFrame:
    """Oracle-parity row: the 365-day default watermark makes the
    availableNow run over a STATIC file keep every key (so the surviving
    key set equals batch DISTINCT).  That horizon is a parity device,
    not a template — dedup state grows with the number of distinct keys
    inside the watermark, so a year-wide horizon on a real stream is
    ~unbounded state.  Production near/exact dedup over long horizons is
    the incremental batch path (``operators.dedup.incremental_dedup`` /
    the persisted LSH band store), which bounds state in storage, not
    memory; pass a tight ``watermark`` here for true streaming use."""
    stream = _events_stream(spark, sf_dir)
    deduped = deduplicate_stream(
        stream, ["user_id", "event_type"], "ts", watermark=watermark
    )
    with _events_state_scope(spark, sf_dir):
        out = run_to_memory(deduped, f"cat_sdedup_{uuid.uuid4().hex[:8]}", spark)
    return out.select("user_id", "event_type").orderBy("user_id", "event_type")


@register(
    "q_stream_join",
    """
    WITH c AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase')
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_ms(c.ts) AS click_ms,
           epoch_ms(p.ts) AS purchase_ms,
           CAST(p.value AS DOUBLE) AS purchase_value
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts - INTERVAL 1 HOUR
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    ORDER BY click_id, purchase_id
    """,
    doc=(
        "Stream-stream join (StreamingJoin, node.py:1528-1552): clicks x "
        "purchases per user within a +/-1h event-time window, watermarks "
        "bounding both sides' state; availableNow run == batch range-join "
        "oracle.  The last SURVEY.md 2.11 construct to gain an oracle row."
    ),
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = streaming_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        window="1 hour",
        watermark="1 hour",
    )
    with _events_state_scope(spark, sf_dir):
        out = run_to_memory(joined, f"cat_sjoin_{uuid.uuid4().hex[:8]}", spark)
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_millis("click_ts").alias("click_ms"),
        F.unix_millis("purchase_ts").alias("purchase_ms"),
        "purchase_value",
    ).orderBy("click_id", "purchase_id")


@register(
    "q_session_windows",
    """
    WITH d AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT user_id,
           epoch_ms(MIN(ts)) AS session_start_ms,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE) AS total_value
    FROM s
    GROUP BY user_id, sid
    ORDER BY user_id, session_start_ms
    """,
    doc=(
        "Session windows (TimeWindowAccumulator intent, node.py:1453-1460, "
        "generalized): 30-min-gap sessions per user via Spark's native "
        "session_window — one shuffle on the grouping key; the oracle is "
        "the gaps-and-islands SQL formulation.  The streaming dual runs in "
        "test_streaming."
    ),
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.sources.readers import load_table

    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(24,8)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start_ms")
    )


def _stream_corpus_oracle() -> str:
    """Batch replay of the composed streaming curation pipeline over the
    even-id half of the corpus (bench = the doc_id % 50 == 1 slice —
    a SMALL benchmark, so decontamination drops real hits without
    flagging the whole synthetic corpus, whose documents share 3-grams
    heavily): quality keep-set → Bloom decontamination drop-set →
    min-id-per-fingerprint dedup.

    The PII-scrub stage replays as IDENTITY: the corpus charset is
    [a-z ] (no digit, '@', or '.' for any email/phone/SSN/IP pattern to
    match — asserted by tests/test_streaming.py, and scrub behavior on
    PII-bearing text is pinned there by the stream==batch parity test
    and by q_pii_scrub's own oracle row)."""
    from metalpipe_spark.catalog.dedup import _NORM_FP_SQL, _bloom_probe_ctes
    from metalpipe_spark.catalog.text import (
        quality_reason_case,
        quality_signal_ctes,
    )

    case = quality_reason_case()
    return f"""
    WITH src AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    {quality_signal_ctes("src")},
    qk AS (
      SELECT src.* FROM src JOIN s USING (doc_id)
      WHERE ({case}) IS NULL
    ),
    corpus AS (SELECT doc_id, text FROM qk),
    bench AS (SELECT text FROM documents WHERE doc_id % 50 = 1),
    {_bloom_probe_ctes(1 << 18, 4)},
    dropped AS (
      SELECT doc_id FROM positive GROUP BY doc_id HAVING COUNT(*) >= 5
    ),
    surv AS (
      SELECT * FROM corpus
      WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    ),
    f AS (SELECT doc_id, {_NORM_FP_SQL} AS fingerprint FROM surv)
    SELECT min(doc_id) AS doc_id, fingerprint
    FROM f GROUP BY fingerprint ORDER BY doc_id
    """


@register(
    "q_stream_corpus",
    _stream_corpus_oracle(),
    doc=(
        "The composed STREAMING curation pipeline (streams."
        "stream_corpus_pipeline) drained with availableNow: PII scrub "
        "-> Gopher quality filter -> Bloom decontamination (all "
        "stateless scan-shaped micro-batch stages) -> incremental "
        "exact dedup against the manifest-atomic fingerprint store.  "
        "The oracle is the batch replay of the same stages; state "
        "equals one md5 row per surviving doc, in storage, not "
        "executor memory."
    ),
)
def q_stream_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.sources.readers import load_table
    from metalpipe_spark.streaming.streams import stream_corpus_pipeline

    stream = _documents_stream(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
    bench = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 50 == 1
    )

    def run(tmp: str) -> DataFrame:
        stream_corpus_pipeline(
            stream,
            bench,
            f"{tmp}/kept",
            f"{tmp}/store",
            f"{tmp}/ckpt",
            min_hits=5,
            # the test corpus is ONE parquet file; without this the
            # whole regex/shingle chain runs on one task
            rebalance_partitions=spark.sparkContext.defaultParallelism,
        ).awaitTermination()
        return spark.read.parquet(f"{tmp}/kept").select("doc_id", "fingerprint")

    return _scratch_result("mps_stream_corpus_", run).orderBy("doc_id")


def _stream_dsir_oracle() -> str:
    from metalpipe_spark.catalog.curation import _dsir_grams_cte

    return f"""
    WITH {_dsir_grams_cte()}
    SELECT doc_id, n_grams, log_weight FROM w ORDER BY doc_id
    """


@register(
    "q_stream_dsir",
    _stream_dsir_oracle(),
    doc=(
        "STREAMING DSIR (streams.stream_dsir_sink) drained with "
        "availableNow: each micro-batch folds its hashed-ngram bucket "
        "counts into the persisted raw-distribution store "
        "(manifest-atomic, exactly-once) and scores itself against the "
        "updated distribution.  One source file = one batch here, so "
        "the drained weights equal the batch q_dsir_weights — the "
        "oracle is exactly that computation.  Durable state: <= 1024 "
        "mergeable count rows, regardless of streamed volume."
    ),
)
def q_stream_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.sources.readers import load_table
    from metalpipe_spark.streaming.streams import stream_dsir_sink

    stream = _documents_stream(spark, sf_dir)
    target = load_table(spark, sf_dir, "documents").where(
        F.col("lang") == "en"
    )

    def run(tmp: str) -> DataFrame:
        stream_dsir_sink(
            stream,
            target,
            f"{tmp}/kept",
            f"{tmp}/store",
            f"{tmp}/ckpt",
            buckets=1024,
            exact=True,
            # one parquet file per batch otherwise = one task
            rebalance_partitions=spark.sparkContext.defaultParallelism,
        ).awaitTermination()
        return spark.read.parquet(f"{tmp}/kept").select(
            "doc_id", "n_grams", "log_weight"
        )

    return _scratch_result("mps_stream_dsir_", run).orderBy("doc_id")


def _stream_exact_substr_oracle() -> str:
    from metalpipe_spark.catalog.dedup import _XS_L, _XS_TAIL

    return f"""
    WITH t AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk
      FROM documents
    ),
    w AS (
      SELECT doc_id, i - 1 AS s,
             md5(array_to_string(tk[i : i + {_XS_L} - 1], ' ')) AS h
      FROM t, unnest(range(1, len(tk) + 1)) AS u(i)
      WHERE i - 1 + {_XS_L} <= len(tk)
    ),
    {_XS_TAIL.format(L=_XS_L, src='t')}
    """


@register(
    "q_stream_exact_substr",
    _stream_exact_substr_oracle(),
    doc=(
        "STREAMING ExactSubstr (streams.stream_exact_substr_sink) "
        "drained with availableNow: each micro-batch's duplicated "
        "token windows are removed against the manifest-atomic "
        "distinct-window store (dual-stream quad-modulus identity) — "
        "completing the streaming dedup family next to fingerprints, "
        "bands, cells, codes and embeddings.  One source file = one "
        "batch here, so the drained output equals the one-shot batch "
        "operator; the cross-batch store semantics are pinned by the "
        "3-file stream==batch test in tests/test_streaming.py.  The "
        "oracle is the one-shot stride-1 window-content replay."
    ),
)
def q_stream_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.catalog.dedup import _XS_L
    from metalpipe_spark.streaming.streams import stream_exact_substr_sink

    stream = _documents_stream(spark, sf_dir).select("doc_id", "text")

    def run(tmp: str) -> DataFrame:
        stream_exact_substr_sink(
            stream,
            f"{tmp}/kept",
            f"{tmp}/store",
            f"{tmp}/ckpt",
            min_length=_XS_L,
        ).awaitTermination()
        return spark.read.parquet(f"{tmp}/kept").select(
            "doc_id", "clean_text", "n_kept"
        )

    return _scratch_result("mps_stream_xs_", run).orderBy("doc_id")


def _stream_bpe_encode_oracle() -> str:
    from metalpipe_spark.catalog.text import _bpe_encode_oracle

    return _bpe_encode_oracle()


@register(
    "q_stream_bpe_encode",
    _stream_bpe_encode_oracle(),
    doc=(
        "STREAMING tokenizer encode (streams.stream_encode_sink, bpe "
        "family) drained with availableNow: documents tokenize on "
        "arrival with the fixed valid merge table and the encoded rows "
        "sink to parquet — the crawl-ingestion face that feeds "
        "pack_sequences without a re-batch, closing the one family "
        "(tokenizers) that had no stream face.  Stateless: the merge "
        "table broadcasts in the UDF closure, exactly-once is the "
        "parquet sink's own file log, per-batch cost O(batch).  The "
        "oracle is q_bpe_encode's rank-order regex-replay twin — "
        "availableNow over the static file equals the batch encoder "
        "exactly."
    ),
)
def q_stream_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.catalog.text import _BPE_ENC_MERGES
    from metalpipe_spark.streaming.streams import stream_encode_sink

    stream = _documents_stream(spark, sf_dir).select("doc_id", "text")

    def run(tmp: str) -> DataFrame:
        stream_encode_sink(
            stream,
            _BPE_ENC_MERGES,
            f"{tmp}/out",
            f"{tmp}/ckpt",
            tokenizer="bpe",
        ).awaitTermination()
        return spark.read.parquet(f"{tmp}/out").select(
            "doc_id",
            "n_subwords",
            F.md5(
                F.concat(
                    F.lit("("), F.concat_ws(")(", "subwords"), F.lit(")")
                )
            ).alias("enc_md5"),
        )

    return _scratch_result("mps_stream_enc_", run).orderBy("doc_id")


def _stream_semdedup_oracle() -> str:
    from metalpipe_spark.catalog.similarity import _semdedup_oracle
    from metalpipe_spark.operators.similarity import deterministic_centroids

    return _semdedup_oracle(
        deterministic_centroids(8, 64),
        threshold=0.25,
        where="WHERE vec_id % 3 = 0",
    )


@register(
    "q_stream_semdedup",
    _stream_semdedup_oracle(),
    doc=(
        "STREAMING semantic dedup (streams.stream_semantic_dedup_sink) "
        "drained with availableNow: one source file = one micro-batch, "
        "so survivors equal the batch semantic_dedup over the same "
        "subset (q_semdedup's oracle verbatim) — and the run exercises "
        "the delta-segment manifest publish end-to-end under the "
        "oracle gate (the store's multi-segment protocol is "
        "additionally pinned by the 3-batch crash/compaction tests).  "
        "Cross-batch store semantics are q_incremental_semdedup's."
    ),
)
def q_stream_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.catalog.similarity import _ivf_cents
    from metalpipe_spark.operators.similarity import ivf_assign_literal
    from metalpipe_spark.streaming.streams import stream_semantic_dedup_sink

    stream = (
        file_watchdog(
            spark,
            sf_dir,
            "vec_id long, embedding array<float>, label int",
            glob="embeddings.parquet",
        )
        .where(F.col("vec_id") % 3 == 0)
        .select("vec_id", "embedding")
    )
    cents = _ivf_cents()

    def run(tmp: str) -> DataFrame:
        stream_semantic_dedup_sink(
            stream, cents, f"{tmp}/kept", f"{tmp}/store",
            f"{tmp}/ckpt", threshold=0.25,
        ).awaitTermination()
        kept = spark.read.parquet(f"{tmp}/kept").select(
            "vec_id", "embedding"
        )
        return ivf_assign_literal(kept, cents).select("vec_id", "cell")

    return _scratch_result("mps_stream_sd_", run).orderBy("vec_id")


def _stream_ccnet_oracle() -> str:
    from metalpipe_spark.catalog.text import (
        _BO_SCORE_CTES,
        _CCNET_P,
        _bo_lm_values_sql,
    )

    return (
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
        .replace("{P2}", repr(_CCNET_P[1]))
    )


@register(
    "q_stream_ccnet_buckets",
    _stream_ccnet_oracle(),
    doc=(
        "STREAMING perplexity scoring (streams.stream_score_sink) — "
        "the CCNet loop's serving half (r16 verdict task 4): the "
        "fixed 9-dp literal backoff model broadcasts once, documents "
        "score on arrival per micro-batch, and the head/middle/tail "
        "bucket is assigned against PINNED thresholds calibrated on "
        "the static slice (a stream cannot take corpus-wide "
        "percentiles statelessly — production calibrates on a sample, "
        "then streams with the literals).  Drained with availableNow "
        "over the same files, the result equals "
        "perplexity_buckets(backoff=True) row for row — the oracle is "
        "q_ccnet_buckets_backoff's SQL verbatim (shared CTEs, shared "
        "fraction literals).  Stateless: no store, no watermark; "
        "exactly-once is the idempotent one-directory-per-batch "
        "overwrite."
    ),
)
def q_stream_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.catalog.text import _BO_LM_ROWS, _CCNET_P
    from metalpipe_spark.operators.text import ngram_logprob_backoff
    from metalpipe_spark.streaming.streams import stream_score_sink

    lm = spark.createDataFrame(
        _BO_LM_ROWS,
        "ngram string, lm_order int, logprob double, log_backoff double",
    ).select(
        "ngram",
        F.col("lm_order").alias("order"),
        "logprob",
        "log_backoff",
    )
    # threshold calibration on the static slice — the batch face's
    # exact percentile_disc over 6-dp scores (perplexity_buckets rule)
    static = read_parquet(
        spark, os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    scored = ngram_logprob_backoff(static, lm, n=2, exact=True).withColumn(
        "mean_logprob", F.round("mean_logprob", 6)
    )
    p1, p2 = (repr(float(p)) for p in _CCNET_P)
    th = scored.selectExpr(
        f"percentile_disc({p1}) WITHIN GROUP (ORDER BY mean_logprob)"
        " AS t1",
        f"percentile_disc({p2}) WITHIN GROUP (ORDER BY mean_logprob)"
        " AS t2",
    ).first()
    stream = _documents_stream(spark, sf_dir).select("doc_id", "text")

    def run(tmp: str) -> DataFrame:
        stream_score_sink(
            stream,
            lm,
            f"{tmp}/out",
            f"{tmp}/ckpt",
            n=2,
            exact=True,
            thresholds=(th["t1"], th["t2"]),
        ).awaitTermination()
        return spark.read.parquet(f"{tmp}/out").select(
            "doc_id", "mean_logprob", "bucket"
        )

    return _scratch_result("mps_stream_ppl_", run).orderBy("doc_id")


@register(
    "q_stream_ngram_counts",
    """
    WITH t AS (
      SELECT regexp_split_to_array(coalesce(text, ''),
                                   '[ \\t\\n\\x0b\\f\\r]+') AS tk
      FROM documents
    ),
    lvl AS (
      SELECT 1 AS lm_order, tok AS ngram, count(*)::BIGINT AS n_count
      FROM (SELECT unnest(tk) AS tok FROM t)
      WHERE tok <> '' GROUP BY tok
      UNION ALL
      SELECT 2 AS lm_order, w1 || ' ' || w2 AS ngram,
             count(*)::BIGINT AS n_count
      FROM (
        SELECT tk[i] AS w1, tk[i + 1] AS w2
        FROM t, unnest(range(1, len(tk))) AS u(i)
        WHERE tk[i] <> '' AND tk[i + 1] <> ''
      ) GROUP BY w1, w2
    ),
    ranked AS (
      SELECT row_number() OVER (
               PARTITION BY lm_order ORDER BY n_count DESC, ngram
             )::INT AS rank,
             lm_order, ngram, n_count
      FROM lvl
    )
    SELECT rank, lm_order, ngram, n_count
    FROM ranked WHERE rank <= 75
    ORDER BY lm_order, rank
    """,
    doc=(
        "STREAMING n-gram counting (streams.stream_ngram_count_sink) "
        "drained with availableNow: the crawl tokenizes ONCE as it "
        "arrives, per-batch gram counts publish as additive delta "
        "segments (sum-merge tiered folds keep fold outputs "
        "distinct-gram-scale), and load_ngram_counts reads the store "
        "as THE count table — the sufficient statistic every "
        "train_backoff_lm smoothing variant trains from without "
        "re-scanning the corpus (train-from-counts == "
        "train-from-corpus is unit-pinned).  Oracle: plain unigram + "
        "bigram counts over the same file, top-75 per order."
    ),
)
def q_stream_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from metalpipe_spark.streaming.streams import (
        load_ngram_counts,
        stream_ngram_count_sink,
    )

    stream = _documents_stream(spark, sf_dir).select("doc_id", "text")

    def run(tmp: str) -> DataFrame:
        stream_ngram_count_sink(
            stream, f"{tmp}/store", f"{tmp}/ckpt", n=2
        ).awaitTermination()
        counts = load_ngram_counts(spark, f"{tmp}/store")
        w = Window.partitionBy("order").orderBy(
            F.desc("n_count"), F.asc("ngram")
        )
        return (
            counts.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= 75)
            .select(
                "rank",
                F.col("order").alias("lm_order"),
                "ngram",
                "n_count",
            )
        )

    return _scratch_result("mps_stream_ngc_", run).orderBy("lm_order", "rank")
