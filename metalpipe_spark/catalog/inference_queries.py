"""Batched-inference catalog rows: the embed stage that PRODUCES
embeddings (operators/inference.py), hash-gated end-to-end.

The fixture model's arithmetic is exact-integer until one final
``int / sqrt(int)`` per dimension, so the mapInPandas output is
bit-identical to the SQL replay — the whole Python inference path
(Arrow batching, per-worker model cache, batch re-chunking) sits
inside the driver's value-hash gate, not beside it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metalpipe_spark.catalog import _scratch_result, register
from metalpipe_spark.operators.inference import embed_documents
from metalpipe_spark.operators.similarity import brute_force_topk
from metalpipe_spark.sources.readers import load_table

# SQL replay of HashedProjectionModel (operators/inference.py): feature
# hashing of whitespace tokens into `dim` signed buckets.  Hash
# convention = the repo-wide portable md5 (dedup._hash64): bucket from
# the first 15 nibbles, sign from the 16th nibble's parity.
_EMBED_CTES = """
    toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                t -> t <> '')) AS tok
      FROM {src}
    ),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT % {dim} AS bucket,
             CASE WHEN ('0x' || substr(md5(tok), 16, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM toks
    ),
    acc AS (
      SELECT doc_id, bucket, SUM(sgn)::BIGINT AS s
      FROM h GROUP BY doc_id, bucket
    ),
    nrm AS (SELECT doc_id, SUM(s * s)::BIGINT AS n2 FROM acc GROUP BY doc_id),
    grid AS (
      SELECT d.doc_id, g.range::BIGINT AS bucket
      FROM (SELECT doc_id FROM {src}) d CROSS JOIN range({dim}) g
    ),
    cells AS (
      SELECT grid.doc_id, grid.bucket,
             CASE WHEN COALESCE(n2, 0) = 0 THEN 0.0
                  ELSE COALESCE(s, 0) / sqrt(n2) END AS v
      FROM grid
      LEFT JOIN acc USING (doc_id, bucket)
      LEFT JOIN nrm USING (doc_id)
    )
"""

# The fold-order-critical dot fragment is SHARED with the similarity
# oracles — one definition, so a fold-shape change can never
# desynchronize this file's oracles from brute_force_topk's scoring.
from metalpipe_spark.catalog.similarity import _DOT  # noqa: E402


@register(
    "q_embed_documents",
    f"""
    WITH {_EMBED_CTES.format(dim=8, src='documents')}
    SELECT doc_id, bucket, round(v, 9) AS v
    FROM cells
    ORDER BY doc_id, bucket
    """,
    doc="Batched embedding inference (mapInPandas, executor-cached "
    "fixture model), long-form per-dimension value gate.",
)
def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = embed_documents(
        docs, model="hashed-projection:8", batch_size=64, max_concurrent=2
    )
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("bucket", "__v")
    ).select(
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.round("__v", 9).alias("v"),
    ).orderBy("doc_id", "bucket")


@register(
    "q_embed_pipeline",
    f"""
    WITH {_EMBED_CTES.format(dim=16, src='documents')},
    vecs AS (
      SELECT doc_id, list(v ORDER BY bucket) AS emb
      FROM cells GROUP BY doc_id
    ),
    q AS (SELECT emb AS qv FROM vecs WHERE doc_id = 0)
    SELECT vecs.doc_id,
           round(({_DOT.format(a='emb', b='qv')})
                 / (sqrt({_DOT.format(a='emb', b='emb')})
                    * sqrt({_DOT.format(a='qv', b='qv')})), 6) AS cosine_sim
    FROM vecs, q
    ORDER BY cosine_sim DESC, doc_id
    LIMIT 10
    """,
    doc="End-to-end embed -> ANN pipeline: batched inference feeding "
    "the brute-force cosine top-k consumer (VERDICT r13 task 2).",
)
def q_embed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = embed_documents(docs, model="hashed-projection:16", batch_size=128)
    qv = emb.where(F.col("doc_id") == 0).select("embedding").head()[0]
    return brute_force_topk(
        emb, [float(x) for x in qv], vec_col="embedding",
        id_col="doc_id", k=10,
    )


@register(
    "q_incremental_embed",
    f"""
    WITH mod AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END AS text
      FROM documents
    ),
    {_EMBED_CTES.format(dim=8, src='mod')}
    SELECT doc_id, bucket, round(v, 9) AS v,
           (doc_id >= 250 OR doc_id % 10 = 0) AS refreshed
    FROM cells
    ORDER BY doc_id, bucket
    """,
    doc=(
        "Incremental embedding refresh: a store built over the first "
        "half of the corpus meets a full re-crawl where every 10th "
        "document's text changed — only new/changed docs run the model "
        "(fingerprint anti-join), carried rows pass through untouched; "
        "the updated store's values and the refreshed classification "
        "are both hash-gated."
    ),
)
def q_incremental_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.inference import incremental_embed

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spec = "hashed-projection:8"
    # Yesterday's store: first half of the corpus at ORIGINAL text.
    _, store = incremental_embed(
        docs.where(F.col("doc_id") < 250), None, model=spec, batch_size=64
    )
    # Persist the in-session store: its lineage CONTAINS the first-pass
    # inference, and the refresh reads the store three times (marker
    # check, carried join, anti-join) — unpersisted, each read would
    # re-run the model.  In production the store is a parquet/bucketed
    # TABLE and the reads are cheap scans (the band_store rule).
    store = store.persist()
    # Today's crawl: every doc, every 10th text changed.
    recrawl = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat("text", F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    fresh, updated = incremental_embed(
        recrawl, store, model=spec, batch_size=64
    )
    return (
        updated.join(
            fresh.select("doc_id").distinct().withColumn(
                "__r", F.lit(True)
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.posexplode("embedding").alias("bucket", "__v"),
            F.coalesce("__r", F.lit(False)).alias("refreshed"),
        )
        .select(
            "doc_id",
            F.col("bucket").cast("long").alias("bucket"),
            F.round("__v", 9).alias("v"),
            "refreshed",
        )
        .orderBy("doc_id", "bucket")
    )


@register(
    "q_stream_embed",
    f"""
    WITH src AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    {_EMBED_CTES.format(dim=8, src='src')}
    SELECT doc_id, bucket, round(v, 9) AS v
    FROM cells
    ORDER BY doc_id, bucket
    """,
    doc=(
        "Embedding inference in Structured Streaming: the same "
        "embed_documents mapInPandas stage runs per micro-batch over a "
        "file-source stream (no batch/stream code fork) and sinks to "
        "parquet under availableNow; values equal the batch oracle."
    ),
)
def q_stream_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.catalog.streaming_queries import _documents_stream

    stream = (
        _documents_stream(spark, sf_dir)
        .where(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text")
    )
    emb = embed_documents(stream, model="hashed-projection:8", batch_size=64)

    def run(tmp: str) -> DataFrame:
        (
            emb.writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .option("path", f"{tmp}/out")
            .start()
            .awaitTermination()
        )
        return (
            spark.read.parquet(f"{tmp}/out")
            .select("doc_id", F.posexplode("embedding").alias("bucket", "__v"))
            .select(
                "doc_id",
                F.col("bucket").cast("long").alias("bucket"),
                F.round("__v", 9).alias("v"),
            )
        )

    return _scratch_result("mps_stream_embed_", run).orderBy("doc_id", "bucket")


def _embed_semdedup_oracle() -> str:
    from metalpipe_spark.catalog.similarity import _semdedup_oracle
    from metalpipe_spark.operators.similarity import deterministic_centroids

    # Anchor fixture = the doc_id % 5 = 0 FIFTH of the corpus (the
    # q_semdedup rationale): the oracle needs exactness, not a large
    # cell population — the fixture embeddings collapse into one dense
    # cluster, so the exact interpreted pair fold is quadratic in the
    # big cell (measured 14 s full-corpus at sf0.1 vs ~1 s on the
    # fifth); the cell-bounded production behavior is pinned by the
    # q_semdedup/q_semdedup_gemm twins.
    prelude = f"""sub AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    ),
    {_EMBED_CTES.format(dim=16, src='sub')},
    vecs AS (
      SELECT doc_id AS vec_id, list(v ORDER BY bucket) AS embedding
      FROM cells GROUP BY doc_id
    ),
    """
    # The zero-vector guard matters even though this corpus has none:
    # cosine against a zero norm is NaN, and DuckDB orders NaN ABOVE
    # every threshold while Spark's comparison yields false — the
    # filter keeps the two engines (and any future corpus) aligned.
    return _semdedup_oracle(
        deterministic_centroids(4, 16),
        threshold=0.9,
        where="WHERE len(list_filter(embedding, x -> x <> 0)) > 0",
        source="vecs",
        prelude=prelude,
    )


@register(
    "q_embed_semdedup",
    _embed_semdedup_oracle(),
    doc=(
        "Full embed -> SemDeDup pipeline: batched fixture inference "
        "produces the vectors and the GEMM semantic-dedup scorer "
        "consumes them in one plan (centroid cells bound candidates, "
        "within-cell cosine >= 0.9 drops lower-id near-dups) — the "
        "documents-to-survivors path a training-data pipeline actually "
        "runs, value-hashed end to end.  The GEMM twin (not the "
        "interpreted exact fold) serves here because the dense-cluster "
        "fixture makes within-cell pair volume quadratic in corpus "
        "size — SCALING batch 10 measured the fold path 31x on 10x "
        "data vs 4.6x for BLAS; the survivor decision is the shared "
        "quantized contract, so the oracle is unchanged (q_semdedup "
        "keeps the exact fold as the family's oracle anchor).  Same "
        "documented caveat as q_semdedup_gemm, which has shared this "
        "oracle since r7: BLAS accumulation could in principle land "
        "within an ulp of the round(.,6) boundary and flip a decision "
        "— never observed on the fixture, and the exact-vs-GEMM "
        "survivor-set equality test pins the two paths to each other."
    ),
)
def q_embed_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign_literal,
        semantic_dedup_gemm,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    emb = (
        embed_documents(docs, model="hashed-projection:16", batch_size=128)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .where(F.exists("embedding", lambda x: x != 0))
    )
    cents = deterministic_centroids(4, 16)
    kept = semantic_dedup_gemm(emb, cents, threshold=0.9)
    return (
        ivf_assign_literal(kept, cents)
        .select("vec_id", "cell")
        .orderBy("vec_id")
    )
