"""Deduplication catalog queries: exact, n-gram Jaccard, MinHash
signatures, MinHash+LSH candidate pairs, SimHash.

All hashing is md5-based so every result is bit-reproducible in the
DuckDB oracle (see operators/dedup.py for the scale rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metalpipe_spark.catalog import register
from metalpipe_spark.materialize import materialize, release
from metalpipe_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_candidate_pairs,
    minhash_coefficients,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
)
from metalpipe_spark.operators.text import fingerprint
from metalpipe_spark.sources.readers import load_table

# THE word-3-gram production (the SQL twin of operators.dedup.
# word_shingles): one authority — every oracle CTE interpolates this
# string, so the shingle rule can never desynchronize between rows.
# coalesce(text, '') matches the operators' NULL contract (a NULL text
# behaves as empty — without it the SQL side DROPS the document while
# Spark keeps it, a gate failure waiting on the first NULL-text row).
_TOKS_EXPR = "string_split(coalesce(text, ''), ' ')"
_SHINGLE_UNNEST = (
    "unnest(list_transform(range(1, greatest(len(t) - 1, 1)), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle"
)

# Shared SQL fragment: distinct word-3-gram shingles per document.
_SHINGLES_CTE = f"""
    toks AS (
      SELECT doc_id, {_TOKS_EXPR} AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             {_SHINGLE_UNNEST}
      FROM toks
    )
"""

_HASH64_SQL = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"


@register(
    "q_dedup_exact",
    """
    SELECT MIN(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(array_to_string(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+'), ' '))
    ORDER BY doc_id
    """,
    doc="Exact dedup: hash-groupBy on normalized-text fingerprint.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs).orderBy("doc_id")


@register(
    "q_jaccard_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, inter,
           inter::DOUBLE / (s1.n_sh + s2.n_sh - inter)::DOUBLE AS jaccard
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE inter::DOUBLE / (s1.n_sh + s2.n_sh - inter)::DOUBLE >= 0.05
    ORDER BY d1, d2
    """,
    doc="N-gram Jaccard near-dup pairs: shingle-join candidate generation.",
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.sources.readers import cpu_pair_partitions

    docs = load_table(spark, sf_dir, "documents", rebalance=True)  # shingle explode is scan-stage CPU
    # max_doc_frequency=None: the oracle computes exact (uncapped)
    # Jaccard; production callers keep the default cap.
    return jaccard_candidate_pairs(
        docs,
        threshold=0.05,
        max_doc_frequency=None,
        # r18: floor the pair-stage task count at the core count — AQE
        # sized the quadratic shingle self-join by its (tiny) shuffle
        # bytes; self-disabling at scale via the parquet metadata gate.
        pair_partitions=cpu_pair_partitions(spark, sf_dir, "documents"),
    ).orderBy("d1", "d2")


# Affine minhash family over a single 32-bit md5-derived hash per
# shingle — mirrors operators/dedup.minhash_signatures exactly.
_HASH32_SQL = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"


def _affine_mins(num_hashes: int) -> str:
    return ",\n           ".join(
        f"MIN(({a} * h + {b}) % 4294967296) AS m{i}"
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    )


def _minhash_oracle(num_hashes: int = 16) -> str:
    # Scalar m0..mN columns (not an array): the driver's value-hash
    # canonicalization sorts pandas columns, and list cells are unhashable.
    cols = ", ".join(f"m{i}" for i in range(num_hashes))
    return f"""
    WITH {_SHINGLES_CTE},
    hsh AS (SELECT doc_id, {_HASH32_SQL} AS h FROM sh),
    mh AS (
      SELECT doc_id,
           {_affine_mins(num_hashes)}
      FROM hsh GROUP BY doc_id
    )
    SELECT doc_id, {cols} FROM mh ORDER BY doc_id
    """


@register(
    "q_minhash_signatures",
    _minhash_oracle(16),
    doc="MinHash signatures (16 salted md5 hashes, shuffle-free columnar form).",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zero-shingle docs drop out of the groupBy shape naturally (same as
    # the oracle's GROUP BY over the shingle set). The operator keeps its
    # array-valued form for the LSH path; the catalog surface flattens to
    # scalar columns so results stay hashable in any downstream engine.
    sigs = _shared_minhash_sigs(spark, sf_dir)
    return sigs.select(
        "doc_id", *[F.col("minhash")[i].alias(f"m{i}") for i in range(16)]
    ).orderBy("doc_id")


def _lsh_pair_ctes(num_hashes: int = 16, bands: int = 8) -> str:
    """CTE chain ending in ``lshp(d1, d2, est_jaccard)`` — shared by the
    pair query and the connected-components cluster oracles."""
    rows = num_hashes // bands
    arr = ", ".join(f"m{i}" for i in range(num_hashes))
    band_exprs = ", ".join(
        "md5('"
        + str(b)
        + "' || ',' || "
        + " || ',' || ".join(f"m{b * rows + r}::VARCHAR" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    return f"""{_SHINGLES_CTE},
    hsh AS (SELECT doc_id, {_HASH32_SQL} AS h FROM sh),
    mh AS (
      SELECT doc_id, {_affine_mins(num_hashes)}
      FROM hsh GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, [{arr}] AS minhash, [{band_exprs}] AS bnds FROM mh),
    banded AS (SELECT doc_id, minhash, unnest(bnds) AS band_key FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.minhash AS m1, b.minhash AS m2
      FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    lshp AS (
      SELECT d1, d2,
             len(list_filter(list_zip(m1, m2), p -> p[1] = p[2]))::DOUBLE / {num_hashes}.0
               AS est_jaccard
      FROM cand
    )"""


def _lsh_oracle(num_hashes: int = 16, bands: int = 8) -> str:
    return f"""
    WITH {_lsh_pair_ctes(num_hashes, bands)}
    SELECT d1, d2, est_jaccard FROM lshp ORDER BY d1, d2
    """


def _component_ctes(num_hashes: int, bands: int, threshold: float) -> str:
    """Recursive transitive closure over the thresholded LSH pair graph,
    ending in ``comp(doc_id, cluster_id)`` (cluster_id = component min)."""
    return f"""{_lsh_pair_ctes(num_hashes, bands)},
    e AS (SELECT d1 AS u, d2 AS v FROM lshp WHERE est_jaccard >= {threshold}
          UNION SELECT d2, d1 FROM lshp WHERE est_jaccard >= {threshold}),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
    )"""


@register(
    "q_minhash_lsh_pairs",
    _lsh_oracle(16, 8),
    doc="MinHash+LSH banding: candidates meet through shared band buckets.",
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)  # shingle explode is scan-stage CPU
    return minhash_lsh_pairs(
        docs,
        num_hashes=16,
        bands=8,
        signatures=_shared_minhash_sigs(spark, sf_dir),
    ).orderBy("d1", "d2")


def _simhash_oracle(bits: int = 32) -> str:
    terms = " + ".join(
        f"(CASE WHEN len(list_filter(hs, v -> (v & {1 << j}) > 0)) * 2 > len(hs) "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(coalesce(text, ''), ' ')) AS t FROM documents
    ),
    h AS (
      SELECT doc_id, list_transform(t, x -> {_HASH64_SQL.format(expr='x')}) AS hs
      FROM toks
    )
    SELECT doc_id, CAST({terms} AS BIGINT) AS simhash
    FROM h
    ORDER BY doc_id
    """


@register(
    "q_simhash",
    _simhash_oracle(32),
    doc="SimHash fingerprints: per-bit majority vote over token hashes.",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, bits=32).orderBy("doc_id")


_CLUSTER_THRESHOLD = 0.5

# Materialized shared stages serve every row of a family — the
# q_corpus_pipeline persisted-shared-stage pattern lifted across rows:
# the minhash SIGNATURE table feeds the LSH-pair, cluster, incremental
# and cross-source rows; the CC assignment table feeds the three
# cluster-shaped rows; the image dHash codes feed the image-dedup rows
# (catalog/multimodal_queries.py).  Keyed by (applicationId, kind,
# sf_dir, params) so each driver session computes a stage exactly once;
# the checkpoint pins only the small derived table (signatures /
# assignments / codes — never payloads).  Rows stay independently
# runnable — any order, any subset — the memo is purely a compute-once
# optimization, never a correctness dependency.
_SHARED_STAGES: dict[tuple, DataFrame] = {}


def clear_shared_stages(kinds: set[str] | None = None) -> None:
    """Drop memoized shared stages AND their checkpoint blocks —
    bench.py calls this before timing the row designated to pay a
    stage's compute, so repeated timed runs re-materialize instead of
    silently serving from storage (and the superseded blocks don't pin
    executor memory across runs).  ``kinds`` restricts the clear to
    specific stage kinds (key[1]) so each designated payer re-pays ITS
    stage without also re-paying upstream stages another row is
    designated to pay (the summed medians then equal one session's
    actual cost, each stage counted once)."""
    doomed = [
        k for k in _SHARED_STAGES if kinds is None or k[1] in kinds
    ]
    for k in doomed:
        df = _SHARED_STAGES.pop(k)
        try:
            release(df)
        except Exception:
            pass  # context already stopped


def shared_stage(spark: SparkSession, key_parts: tuple, builder) -> DataFrame:
    """Memoize-and-materialize a family-shared DataFrame stage: an eager
    checkpoint (multi-subtree first actions on a lazy one RACE to
    materialize it), keyed under ``(applicationId, *key_parts)``."""
    key = (spark.sparkContext.applicationId, *key_parts)
    got = _SHARED_STAGES.get(key)
    if got is not None:
        return got
    df = materialize(builder(), eager=True)
    _SHARED_STAGES[key] = df
    return df


def _shared_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-wide MinHash signature table ``(doc_id, minhash[16])``
    — ONE shingle→md5→16-min pipeline per session, serving the pair /
    cluster / incremental / cross-source rows.  16 longs per doc, so the
    checkpoint is corpus-row-count sized, never corpus-byte sized."""
    return shared_stage(
        spark,
        ("minhash_sigs", sf_dir, 3, 16),
        lambda: minhash_signatures(
            load_table(spark, sf_dir, "documents", rebalance=True),
            num_hashes=16,
        ),
    )


def _cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every doc in an LSH candidate pair at
    est_jaccard >= _CLUSTER_THRESHOLD — materialized once per session,
    derived from the shared signature stage (band keys and the bucket
    join are recomputed from the materialized signatures; only the
    shingle pipeline is shared upstream)."""
    from metalpipe_spark.operators.dedup import (
        _banded_signatures,
        _pairs_from_bands,
    )

    def build() -> DataFrame:
        sigs = _shared_minhash_sigs(spark, sf_dir)
        banded = _banded_signatures(sigs, "doc_id", 16, 8)
        pairs = _pairs_from_bands(banded, "doc_id", 16).where(
            F.col("est_jaccard") >= _CLUSTER_THRESHOLD
        )
        return connected_components(pairs).select(
            F.col("node").alias("doc_id"), "cluster_id"
        )

    return shared_stage(
        spark, ("cc", sf_dir, 16, 8, _CLUSTER_THRESHOLD), build
    )


@register(
    "q_dedup_clusters",
    f"""
    WITH RECURSIVE {_component_ctes(16, 8, _CLUSTER_THRESHOLD)}
    SELECT doc_id, cluster_id FROM comp ORDER BY doc_id
    """,
    doc=(
        "Near-dup clusters: LSH pairs (est_jaccard >= 0.5) -> connected "
        "components (large-star/small-star, O(log n) rounds)."
    ),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_assignments(spark, sf_dir).orderBy("doc_id")


@register(
    "q_dedup_corpus",
    f"""
    WITH RECURSIVE {_component_ctes(16, 8, _CLUSTER_THRESHOLD)}
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
    ORDER BY d.doc_id
    """,
    doc=(
        "End-to-end near-dup removal: cluster LSH pairs, keep the minimum "
        "doc per cluster (left_anti join), pass isolated docs through."
    ),
)
def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Same rule as dedup_corpus (keep the min-id doc per cluster, pass
    # isolated docs through), fed from the shared materialized CC stage.
    losers = _cluster_assignments(spark, sf_dir).where(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    return docs.select("doc_id").join(losers, "doc_id", "left_anti").orderBy(
        "doc_id"
    )


@register(
    "q_dedup_keep_best",
    f"""
    WITH RECURSIVE {_component_ctes(16, 8, _CLUSTER_THRESHOLD)},
    scored AS (
      SELECT c.doc_id, c.cluster_id, d.n_chars
      FROM comp c JOIN documents d USING (doc_id)
    ),
    winners AS (
      SELECT doc_id FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
      ) = 1
    ),
    losers AS (
      SELECT doc_id FROM comp
      WHERE doc_id NOT IN (SELECT doc_id FROM winners)
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    ORDER BY d.doc_id
    """,
    doc=(
        "Quality-aware near-dup removal: per LSH cluster keep the member "
        "with the most characters (ties -> lowest doc_id) instead of the "
        "minimum id; isolated docs pass through.  One MAX_BY per cluster, "
        "never a window sort."
    ),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import dedup_corpus_keep_best

    docs = load_table(spark, sf_dir, "documents")
    kept = dedup_corpus_keep_best(
        docs, _cluster_assignments(spark, sf_dir), score_col="n_chars"
    )
    return kept.select("doc_id").orderBy("doc_id")


_NORM_FP_SQL = (
    "md5(array_to_string(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+'), ' '))"
)


@register(
    "q_incremental_dedup",
    f"""
    WITH seen AS (
      SELECT DISTINCT {_NORM_FP_SQL} AS fingerprint
      FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
      SELECT {_NORM_FP_SQL} AS fingerprint, MIN(doc_id) AS doc_id
      FROM documents WHERE doc_id % 2 = 1
      GROUP BY 1
    )
    SELECT b.doc_id, b.fingerprint
    FROM batch b
    WHERE b.fingerprint NOT IN (SELECT fingerprint FROM seen)
    ORDER BY b.doc_id
    """,
    doc=(
        "Incremental dedup: a new batch (odd doc_ids) dedups in-batch, "
        "then anti-joins the existing corpus fingerprint store (even "
        "doc_ids) — the continuously-ingesting pipeline shape."
    ),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import incremental_exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    store = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(fingerprint("text").alias("fingerprint"))
        .distinct()
    )
    batch = docs.where(F.col("doc_id") % 2 == 1)
    fresh, _ = incremental_exact_dedup(batch, store)
    return fresh.select("doc_id", "fingerprint").orderBy("doc_id")


def _subset_band_ctes(tag: str, pred: str, num_hashes: int = 16, bands: int = 8) -> str:
    """The shingle→minhash→band CTE chain of ``_lsh_pair_ctes``, but over
    ``documents WHERE pred`` with ``_{tag}``-suffixed names so two doc
    subsets (batch vs store) can coexist in one oracle query."""
    rows = num_hashes // bands
    arr = ", ".join(f"m{i}" for i in range(num_hashes))
    band_exprs = ", ".join(
        "md5('"
        + str(b)
        + "' || ',' || "
        + " || ',' || ".join(f"m{b * rows + r}::VARCHAR" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    return f"""
    toks_{tag} AS (
      SELECT doc_id, {_TOKS_EXPR} AS t FROM documents WHERE {pred}
    ),
    sh_{tag} AS (
      SELECT DISTINCT doc_id,
             {_SHINGLE_UNNEST}
      FROM toks_{tag}
    ),
    hsh_{tag} AS (SELECT doc_id, {_HASH32_SQL} AS h FROM sh_{tag}),
    mh_{tag} AS (
      SELECT doc_id, {_affine_mins(num_hashes)}
      FROM hsh_{tag} GROUP BY doc_id
    ),
    sig_{tag} AS (SELECT doc_id, [{arr}] AS minhash, [{band_exprs}] AS bnds FROM mh_{tag}),
    banded_{tag} AS (SELECT doc_id, minhash, unnest(bnds) AS band_key FROM sig_{tag})"""


def _incremental_neardup_oracle(num_hashes: int = 16, threshold: float = 0.5) -> str:
    est = (
        "len(list_filter(list_zip({a}, {b}), p -> p[1] = p[2]))::DOUBLE"
        f" / {num_hashes}.0"
    )
    return f"""
    WITH RECURSIVE {_subset_band_ctes("b", "doc_id % 2 = 1", num_hashes)},
    {_subset_band_ctes("s", "doc_id % 2 = 0", num_hashes)},
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.minhash AS m1, b.minhash AS m2
      FROM banded_b a JOIN banded_b b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    e AS (
      SELECT d1 AS u, d2 AS v FROM cand WHERE {est.format(a="m1", b="m2")} >= {threshold}
      UNION
      SELECT d2, d1 FROM cand WHERE {est.format(a="m1", b="m2")} >= {threshold}
    ),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
    ),
    surv AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 2 = 1
        AND doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != cluster_id)
    ),
    hits AS (
      SELECT DISTINCT a.doc_id
      FROM banded_b a
      JOIN surv sv ON a.doc_id = sv.doc_id
      JOIN banded_s b ON a.band_key = b.band_key
      WHERE {est.format(a="a.minhash", b="b.minhash")} >= {threshold}
    )
    SELECT doc_id FROM surv
    WHERE doc_id NOT IN (SELECT doc_id FROM hits)
    ORDER BY doc_id
    """


@register(
    "q_incremental_neardup",
    _incremental_neardup_oracle(16, _CLUSTER_THRESHOLD),
    doc=(
        "Incremental NEAR-dup dedup: a new batch (odd doc_ids) resolves "
        "in-batch near-dups by connected components, then band-joins the "
        "persisted LSH store of the existing corpus (even doc_ids) and "
        "drops batch docs whose estimated Jaccard vs any stored doc "
        "clears the threshold — the continuously-ingesting near-dup "
        "pipeline shape (full-corpus re-clustering per batch is a "
        "non-starter at 100 TB)."
    ),
)
def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import (
        band_store,
        incremental_neardup_dedup,
    )

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    # Both sides derive from the session's shared materialized signature
    # stage (one shingle→minhash pipeline for the whole dedup family);
    # banding from materialized signatures is cheap md5 concat, which
    # measured cheaper to recompute per job than to persist — only the
    # expensive upstream is shared.
    sigs = _shared_minhash_sigs(spark, sf_dir)
    store = band_store(
        docs, signatures=sigs.where(F.col("doc_id") % 2 == 0)
    )
    batch = docs.where(F.col("doc_id") % 2 == 1)
    fresh, _ = incremental_neardup_dedup(
        batch,
        store,
        threshold=_CLUSTER_THRESHOLD,
        signatures=sigs.where(F.col("doc_id") % 2 == 1),
    )
    return fresh.select("doc_id").orderBy("doc_id")


def _simhash_neardup_oracle(
    bits: int = 60, max_hamming: int = 3, blocks: int = 4, combo: int = 1
) -> str:
    from metalpipe_spark.operators.dedup import hamming_block_keys

    width = bits // blocks
    mask = (1 << width) - 1
    terms = " + ".join(
        f"(CASE WHEN len(list_filter(hs, v -> (v & {1 << j}) > 0)) * 2 > len(hs) "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    # Same combination keys as hamming_neardup_pairs: combo_index in the
    # high bits, the combo's block values concatenated below it.
    keys = ", ".join(
        str(j << (combo * width))
        + "".join(
            f" + (((simhash >> {i * width}) & {mask}) << {t * width})"
            for t, i in enumerate(idxs)
        )
        for j, idxs in enumerate(hamming_block_keys(bits, max_hamming, blocks, combo))
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(coalesce(text, ''), ' ')) AS t FROM documents
    ),
    h AS (
      SELECT doc_id, list_transform(t, x -> {_HASH64_SQL.format(expr='x')}) AS hs
      FROM toks
    ),
    s AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM h),
    banded AS (SELECT doc_id, simhash, unnest([{keys}]) AS bk FROM s),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.simhash AS s1, b.simhash AS s2
      FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
    )
    SELECT d1, d2, bit_count(xor(s1, s2))::BIGINT AS hamming
    FROM cand
    WHERE bit_count(xor(s1, s2)) <= {max_hamming}
    ORDER BY d1, d2
    """


@register(
    "q_simhash_neardup",
    _simhash_neardup_oracle(60, 3, 6, 3),
    doc=(
        "SimHash hamming-distance near-dup pairs via Manku combination "
        "banding (pigeonhole: distance <= 3 pairs agree on >= 3 of 6 "
        "10-bit blocks, so they share one of the C(6,3)=20 enumerated "
        "30-bit combination keys verbatim); exact check is codegen "
        "bit_count(xor).  combo=3 dissolves the hot single-block "
        "buckets a template-heavy corpus creates (worst bucket 13.4k "
        "-> 3.5k docs at the sf1 scaling corpus; 70 -> 15 s wall)."
    ),
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import simhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(
        docs, bits=60, max_hamming=3, blocks=6, combo=3
    ).orderBy("d1", "d2")


_PCHUNK = 32


@register(
    "q_paragraph_dedup",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks,
             len(string_split(coalesce(text, ''), ' ')) AS n
      FROM documents
    ),
    st AS (
      SELECT doc_id, toks, n,
             unnest(range(1, greatest(n, 1) + 1, {_PCHUNK})) AS s
      FROM t
    ),
    chunks AS (
      SELECT doc_id, ((s - 1) // {_PCHUNK})::BIGINT AS chunk_id,
             array_to_string(toks[s : s + {_PCHUNK - 1}], ' ') AS chunk_text
      FROM st
    ),
    keyed AS (
      SELECT doc_id, chunk_id, chunk_text, md5(chunk_text) AS fp,
             doc_id * 1048576 + chunk_id AS arg
      FROM chunks
    ),
    first AS (SELECT fp, MIN(arg) AS keep FROM keyed GROUP BY fp),
    kept AS (
      SELECT k.doc_id, k.chunk_id, k.chunk_text
      FROM keyed k JOIN first f ON k.fp = f.fp AND k.arg = f.keep
    )
    SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_id) AS text
    FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
    doc=(
        "Passage-level dedup (C4-style): non-overlapping 32-token "
        "windows, first corpus occurrence wins (groupBy-min on chunk "
        "md5), documents reassembled from surviving windows."
    ),
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import chunk_level_dedup

    docs = load_table(spark, sf_dir, "documents")
    return chunk_level_dedup(docs, chunk_tokens=_PCHUNK).orderBy("doc_id")


_BP_MIN_DF = 2


@register(
    "q_boilerplate_removal",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks,
             len(string_split(coalesce(text, ''), ' ')) AS n
      FROM documents
    ),
    st AS (
      SELECT doc_id, toks, n,
             unnest(range(1, greatest(n, 1) + 1, {_PCHUNK})) AS s
      FROM t
    ),
    chunks AS (
      SELECT doc_id, ((s - 1) // {_PCHUNK})::BIGINT AS chunk_id,
             array_to_string(toks[s : s + {_PCHUNK - 1}], ' ') AS chunk_text
      FROM st
    ),
    keyed AS (
      SELECT doc_id, chunk_id, chunk_text, md5(chunk_text) AS fp FROM chunks
    ),
    rare AS (
      SELECT fp FROM keyed GROUP BY fp
      HAVING COUNT(DISTINCT doc_id) < {_BP_MIN_DF}
    ),
    kept AS (SELECT k.* FROM keyed k JOIN rare r ON k.fp = r.fp)
    SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_id) AS text
    FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
    doc=(
        "Boilerplate stripping (CCNet-style): drop EVERY occurrence of a "
        "32-token window whose exact content appears in >= 2 distinct "
        "documents (headers/footers/banners); reassemble survivors.  "
        "Unlike q_paragraph_dedup, the first occurrence goes too."
    ),
)
def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import boilerplate_chunk_removal

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_chunk_removal(
        docs, chunk_tokens=_PCHUNK, min_df=_BP_MIN_DF
    ).orderBy("doc_id")


@register(
    "q_decontaminate",
    f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    bench AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    ctoks AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM corpus),
    csh AS (
      SELECT DISTINCT doc_id AS corpus_id,
             {_SHINGLE_UNNEST}
      FROM ctoks
    ),
    btoks AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM bench),
    bsh AS (
      SELECT DISTINCT doc_id AS benchmark_id,
             {_SHINGLE_UNNEST}
      FROM btoks
    )
    SELECT corpus_id, benchmark_id, COUNT(*) AS shared_shingles
    FROM csh JOIN bsh USING (shingle)
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    ORDER BY corpus_id, benchmark_id
    """,
    doc=(
        "Benchmark decontamination report: corpus docs (even ids) "
        "sharing >= 3 distinct 3-grams with any benchmark doc (odd "
        "ids); benchmark shingle index broadcasts."
    ),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents", rebalance=True)  # shingle explode is scan-stage CPU
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    bench = docs.where(F.col("doc_id") % 2 == 1)
    _, report = decontaminate(corpus, bench, min_shared=3)
    return report.orderBy("corpus_id", "benchmark_id")


def _bloom_probe_ctes(m_bits: int, k: int) -> str:
    """CTE chain replaying the Bloom membership probe over upstream CTEs
    ``corpus(doc_id, text)`` and ``bench(text)``, ending in
    ``positive(doc_id, shingle)`` — shared by the decontamination row
    and the composed streaming-pipeline row (a second hand-inlined copy
    would silently diverge from the mask geometry)."""
    from metalpipe_spark.operators.dedup import minhash_coefficients
    from metalpipe_spark.operators.sketches import _bloom_shift

    # Multiply-shift positions from THE geometry authority — a second
    # inline derivation could silently diverge from the masks.
    shift = _bloom_shift(m_bits)
    pos_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, shingle, (({a} * h + {b}) % 4294967296) // {1 << shift} AS pos FROM ch"
        for a, b in minhash_coefficients(k)
    )
    bit_rows = "\n      UNION ALL ".join(
        f"SELECT (({a} * h + {b}) % 4294967296) // {1 << shift} AS pos FROM bh"
        for a, b in minhash_coefficients(k)
    )
    return f"""
    btoks AS (SELECT string_split(coalesce(text, ''), ' ') AS t FROM bench),
    bsh AS (
      SELECT DISTINCT
             {_SHINGLE_UNNEST}
      FROM btoks
    ),
    bh AS (SELECT ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM bsh),
    bits AS (SELECT DISTINCT pos FROM (
      {bit_rows}
    )),
    ctoks AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM corpus),
    csh AS (
      SELECT DISTINCT doc_id,
             {_SHINGLE_UNNEST}
      FROM ctoks
    ),
    ch AS (
      SELECT doc_id, shingle, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
      FROM csh
    ),
    cpos AS (
      {pos_rows}
    ),
    positive AS (
      SELECT doc_id, shingle
      FROM cpos JOIN bits USING (pos)
      GROUP BY doc_id, shingle
      HAVING COUNT(*) = {k}
    )"""


def _bloom_oracle(m_bits: int, k: int, min_hits: int) -> str:
    return f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    bench AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    {_bloom_probe_ctes(m_bits, k)}
    SELECT doc_id, COUNT(*)::BIGINT AS bloom_hits
    FROM positive GROUP BY doc_id
    HAVING COUNT(*) >= {min_hits}
    ORDER BY doc_id
    """


@register(
    "q_bloom_decontaminate",
    _bloom_oracle(1 << 18, 4, 3),
    doc=(
        "Bloom-filter decontamination (the fixed-size-state twin of "
        "q_decontaminate): the benchmark's distinct 3-gram shingles "
        "pack into a 2^18-bit mask (32 KiB regardless of benchmark "
        "size), the corpus probes it with 4 md5-affine bit checks in "
        "pure codegen — no join for candidate generation — and docs "
        "with >= 3 positive shingles are flagged.  One-sided error "
        "(never misses real contamination under the same shingle "
        "rule); oracle-exact because the DuckDB twin replays the same "
        "affine positions against the distinct-position set, which "
        "equals packed-mask membership by construction."
    ),
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.sketches import bloom_decontaminate

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    bench = docs.where(F.col("doc_id") % 2 == 1)
    _, report = bloom_decontaminate(
        corpus, bench, m_bits=1 << 18, k=4, min_hits=3
    )
    return report.orderBy("doc_id")


@register(
    "q_cluster_sizes",
    f"""
    WITH RECURSIVE {_component_ctes(16, 8, _CLUSTER_THRESHOLD)},
    sizes AS (SELECT cluster_id, COUNT(*) AS size FROM comp GROUP BY cluster_id)
    SELECT size, COUNT(*) AS n_clusters
    FROM sizes GROUP BY size ORDER BY size
    """,
    doc=(
        "Near-dup cluster size histogram: duplication-structure profile "
        "of the corpus (two same-key aggregates over the CC output)."
    ),
)
def q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cluster_assignments(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("size")
    )


@register(
    "q_source_overlap",
    f"""
    WITH {_lsh_pair_ctes(16, 8)},
    hits AS (SELECT d1, d2 FROM lshp WHERE est_jaccard >= {_CLUSTER_THRESHOLD}),
    lab AS (
      SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b
      FROM hits h
      JOIN documents a ON h.d1 = a.doc_id
      JOIN documents b ON h.d2 = b.doc_id
    )
    SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
    FROM lab GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
    doc=(
        "Cross-source near-dup overlap diagnostic: thresholded "
        "MinHash-LSH pairs labeled with each side's source and counted "
        "per unordered source pair — diagonal rows are within-source "
        "duplication, off-diagonal rows cross-source contamination.  "
        "The label join touches only pair ids (orders of magnitude "
        "smaller than the corpus)."
    ),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import cross_source_overlap

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return cross_source_overlap(
        docs,
        bands=8,
        threshold=_CLUSTER_THRESHOLD,
        signatures=_shared_minhash_sigs(spark, sf_dir),
    ).orderBy("source_a", "source_b")


_SPAN_W, _SPAN_S = 32, 8


@register(
    "q_span_dedup",
    f"""
    WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk FROM documents),
    w AS (
      SELECT doc_id, i - 1 AS s,
             md5(array_to_string(tk[i : i + {_SPAN_W} - 1], ' ')) AS h
      FROM t, unnest(range(1, len(tk) + 1)) AS u(i)
      WHERE ('0x' || substr(md5(tk[i]), 1, 15))::BIGINT % {_SPAN_S} = 0
        AND i - 1 + {_SPAN_W} <= len(tk)
    ),
    r AS (
      SELECT doc_id, s, h,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
      FROM w
    ),
    cover AS (
      SELECT DISTINCT doc_id, u.pos
      FROM r, unnest(range(s, s + {_SPAN_W})) AS u(pos)
      WHERE rn > 1
    ),
    tok AS (
      SELECT doc_id, tk[i] AS tok, i - 1 AS pos
      FROM t, unnest(range(1, len(tk) + 1)) AS u(i)
    ),
    kept AS (
      SELECT k.doc_id, k.pos, k.tok
      FROM tok k LEFT JOIN cover c ON k.doc_id = c.doc_id AND k.pos = c.pos
      WHERE c.pos IS NULL
    )
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
           count(*) AS n_kept
    FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
    doc=(
        "Duplicate-SPAN removal (content-defined-anchor ExactSubstr "
        "approximation, Lee et al. 2022): 32-token spans hashed at "
        "every anchor token (token-hash % 8 == 0, the rsync/CDC trick, "
        "so identical runs anchor identically at ANY offset); the "
        "globally first occurrence survives and tokens covered by "
        "later occurrences are deleted; documents reassemble from "
        "surviving tokens."
    ),
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import duplicate_span_dedup

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return duplicate_span_dedup(
        docs, window=_SPAN_W, anchor_stride=_SPAN_S
    ).orderBy("doc_id")


_SPAN_GAP = 8


@register(
    "q_span_dedup_winnow",
    f"""
    WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk FROM documents),
    tok AS (
      SELECT doc_id, len(tk) AS n, i - 1 AS pos, tk[i] AS tok,
             ('0x' || substr(md5(tk[i]), 1, 15))::BIGINT AS th
      FROM t, unnest(range(1, len(tk) + 1)) AS u(i)
    ),
    winnow AS (
      SELECT doc_id, n,
             -((min(struct_pack(h := th, np := -pos)) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN {_SPAN_GAP - 1} PRECEDING AND CURRENT ROW)).np) AS s
      FROM tok
    ),
    pred AS (SELECT doc_id, n, pos AS s FROM tok WHERE th % {_SPAN_S} = 0),
    anch AS (
      SELECT DISTINCT doc_id, s
      FROM (SELECT * FROM winnow UNION ALL SELECT * FROM pred)
      WHERE s + {_SPAN_W} <= n
    ),
    w AS (
      SELECT a.doc_id, a.s,
             md5(array_to_string(t.tk[a.s + 1 : a.s + {_SPAN_W}], ' ')) AS h
      FROM anch a JOIN t USING (doc_id)
    ),
    r AS (
      SELECT doc_id, s, h,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
      FROM w
    ),
    cover AS (
      SELECT DISTINCT doc_id, u.pos
      FROM r, unnest(range(s, s + {_SPAN_W})) AS u(pos)
      WHERE rn > 1
    ),
    kept AS (
      SELECT k.doc_id, k.pos, k.tok
      FROM tok k LEFT JOIN cover c ON k.doc_id = c.doc_id AND k.pos = c.pos
      WHERE c.pos IS NULL
    )
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
           count(*) AS n_kept
    FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
    doc=(
        "Span dedup ESCALATED with winnowing anchors (Schleimer et al. "
        "SIGMOD'03; VERDICT r12 task 5): besides the mod-stride "
        "content-defined anchors, every trailing window of 8 token "
        "positions contributes its rightmost-argmin token hash as an "
        "anchor — the anchor gap is bounded at 8 BY CONSTRUCTION, so "
        "no adversarial vocabulary can dodge detection (every "
        "duplicated run of length >= window + 2*gap is caught).  The "
        "oracle replays the argmin via a struct-min window frame."
    ),
)
def q_span_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import duplicate_span_dedup

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return duplicate_span_dedup(
        docs, window=_SPAN_W, anchor_stride=_SPAN_S,
        guaranteed_gap=_SPAN_GAP,
    ).orderBy("doc_id")


# Exact ExactSubstr: ground truth is stride-1 window CONTENT equality —
# the oracle hashes every L-token window, keep-first per distinct
# content, covers the rest.  The engine side computes the identical
# relation in O(n) per doc via a verified double rolling hash.
_XS_TAIL = """
    r AS (
      SELECT doc_id, s,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
      FROM w
    ),
    cover AS (
      SELECT DISTINCT doc_id, u.pos
      FROM r, unnest(range(s, s + {L})) AS u(pos)
      WHERE rn > 1
    ),
    tok AS (
      SELECT doc_id, tk[i] AS tok, i - 1 AS pos
      FROM {src}, unnest(range(1, len(tk) + 1)) AS u(i)
    ),
    kept AS (
      SELECT k.doc_id, k.pos, k.tok
      FROM tok k LEFT JOIN cover c ON k.doc_id = c.doc_id AND k.pos = c.pos
      WHERE c.pos IS NULL
    )
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
           count(*) AS n_kept
    FROM kept GROUP BY doc_id ORDER BY doc_id
"""

_XS_L = 16


@register(
    "q_exact_substr",
    f"""
    WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk FROM documents),
    w AS (
      SELECT doc_id, i - 1 AS s,
             md5(array_to_string(tk[i : i + {_XS_L} - 1], ' ')) AS h
      FROM t, unnest(range(1, len(tk) + 1)) AS u(i)
      WHERE i - 1 + {_XS_L} <= len(tk)
    ),
    {_XS_TAIL.format(L=_XS_L, src='t')}
    """,
    doc=(
        "EXACT duplicated-substring removal (Lee et al. 2022 "
        "ExactSubstr): every token in a duplicated 16-token-or-longer "
        "run is deleted except in the run's first occurrence — at any "
        "offset, verified on window content.  Engine: O(n) double "
        "rolling hash per doc (Arrow numpy kernel), map-side-combined "
        "duplicate keys, content-verified candidates."
    ),
)
def q_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import exact_substr_dedup

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return exact_substr_dedup(docs, min_length=_XS_L).orderBy("doc_id")


@register(
    "q_exact_substr_shifted",
    f"""
    WITH src AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk
      FROM documents WHERE doc_id < 40
    ),
    fix AS (
      SELECT doc_id * 2 AS doc_id, tk[1 : 24] AS tk FROM src
      UNION ALL
      SELECT doc_id * 2 + 1 AS doc_id,
             list_concat(['pfx0', 'pfx1', 'pfx2'], tk[1 : 24]) AS tk
      FROM src
    ),
    w AS (
      SELECT doc_id, i - 1 AS s,
             md5(array_to_string(tk[i : i + 11], ' ')) AS h
      FROM fix, unnest(range(1, len(tk) + 1)) AS u(i)
      WHERE i - 1 + 12 <= len(tk)
    ),
    {_XS_TAIL.format(L=12, src='fix')}
    """,
    doc=(
        "Adversarial offset-shift fixture for ExactSubstr exactness "
        "(VERDICT r13 task 3): each source doc appears twice, the "
        "second copy shifted 3 tokens right by a prefix — a position-"
        "grid or anchor-miss method can drop these; the exact operator "
        "must strip every shifted duplicate run, keeping only the "
        "3-token prefixes in the later copies."
    ),
)
def q_exact_substr_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import exact_substr_dedup

    src = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 40)
        .select(
            "doc_id",
            F.split(F.coalesce(F.col("text"), F.lit("")), r" ").alias("tk"),
        )
    )
    a = src.select(
        (F.col("doc_id") * 2).alias("doc_id"),
        F.concat_ws(" ", F.slice("tk", 1, 24)).alias("text"),
    )
    b = src.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(
                F.array(F.lit("pfx0"), F.lit("pfx1"), F.lit("pfx2")),
                F.slice("tk", 1, 24),
            ),
        ).alias("text"),
    )
    return exact_substr_dedup(a.unionByName(b), min_length=12).orderBy(
        "doc_id"
    )


_EDJOIN_ORACLE = """
    WITH base AS (
      SELECT DISTINCT tok FROM (
        SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+')) AS tok
        FROM documents
      ) WHERE length(tok) BETWEEN 3 AND 12
    ),
    w AS (
      SELECT DISTINCT tok FROM (
        SELECT tok FROM base
        UNION ALL  -- 1-insertion variants for every 3rd length class
        SELECT tok || 'x' FROM base WHERE length(tok) % 2 = 0
        UNION ALL  -- 1-substitution variants for every 4th length class
        SELECT 'x' || substr(tok, 2) FROM base WHERE length(tok) % 2 = 1
      )
    )
    SELECT a.tok AS s1, b.tok AS s2, levenshtein(a.tok, b.tok)::INT AS dist
    FROM w a JOIN w b ON a.tok < b.tok
    WHERE levenshtein(a.tok, b.tok) <= 1
    ORDER BY s1, s2
    """


@register(
    "q_edit_distance_join",
    _EDJOIN_ORACLE,
    doc=(
        "edit_distance_join (operators/joins.py): all token pairs "
        "within Levenshtein distance 1 over the distinct 3-12-char "
        "vocabulary (seeded with deterministic 1-edit variants) — the entity-resolution fuzzy join.  "
        "EXACT but never all-pairs: SymSpell symmetric-delete "
        "neighborhoods guarantee every qualifying pair shares a "
        "deletion variant (pigeonhole), candidates meet inside variant "
        "buckets (the minhash-band shape), one codegen levenshtein "
        "verifies.  The oracle is the naive quadratic definition — "
        "affordable at sf0.01, which is exactly why the engine plan "
        "must not be it."
    ),
)
def q_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.joins import edit_distance_join
    from metalpipe_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    # referenced by 3 union branches below — one tokenize+distinct
    # pass instead of three (vocab-scale state, lazy)
    base = materialize(
        docs.select(F.explode(tokens("text")).alias("tok"))
        .where(F.length("tok").between(3, 12))
        .distinct()
    )
    # Seed real near-misses: deterministic 1-insertion and
    # 1-substitution variants (the audio-fixture pattern) so the row
    # checks matching pairs, not just the empty case.
    vocab = (
        base.unionByName(
            base.where(F.length("tok") % 2 == 0).select(
                F.concat(F.col("tok"), F.lit("x")).alias("tok")
            )
        )
        .unionByName(
            base.where(F.length("tok") % 2 == 1).select(
                F.concat(F.lit("x"), F.expr("substring(tok, 2)")).alias("tok")
            )
        )
        .distinct()
    )
    return (
        edit_distance_join(vocab, "tok", id_col="tok", max_edits=1)
        .select("s1", "s2", "dist")
        .orderBy("s1", "s2")
    )


@register(
    "q_incremental_exact_substr",
    f"""
    SELECT doc_id, clean_text, n_kept,
           (doc_id >= 250) AS second_batch
    FROM (
      WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk FROM documents),
      w AS (
        SELECT doc_id, i - 1 AS s,
               md5(array_to_string(tk[i : i + {_XS_L} - 1], ' ')) AS h
        FROM t, unnest(range(1, len(tk) + 1)) AS u(i)
        WHERE i - 1 + {_XS_L} <= len(tk)
      ),
      {_XS_TAIL.format(L=_XS_L, src='t')}
    )
    ORDER BY doc_id
    """,
    doc=(
        "Incremental ExactSubstr: the corpus arrives as two batches "
        "against a persisted distinct-window store (quad-modulus "
        "rolling-hash identity, geometry markers); concatenated batch "
        "outputs must equal the one-shot batch operator — the oracle "
        "IS the one-shot stride-1 content replay, plus the batch flag."
    ),
)
def q_incremental_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.dedup import incremental_exact_substr

    docs = load_table(spark, sf_dir, "documents", rebalance=True).select(
        "doc_id", "text"
    )
    b1 = docs.where(F.col("doc_id") < 250)
    b2 = docs.where(F.col("doc_id") >= 250)
    c1, store = incremental_exact_substr(b1, None, min_length=_XS_L)
    # Persist the in-session store: the second batch reads it twice
    # (semi + anti join) and its lineage holds the first batch's window
    # kernel; in production it is a bucketed TABLE (SCALING.md batch 8).
    store = store.persist()
    c2, _ = incremental_exact_substr(b2, store, min_length=_XS_L)
    return (
        c1.withColumn("second_batch", F.lit(False))
        .unionByName(c2.withColumn("second_batch", F.lit(True)))
        .orderBy("doc_id")
    )
