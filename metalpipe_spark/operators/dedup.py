"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash
(BASELINE.json north star).

Scale design:
  * exact dedup = hash-groupBy on a fingerprint — one shuffle on an
    evenly-distributed md5 key (no skew by construction);
  * near-dup candidate generation never compares all pairs: documents
    meet only through shared shingles (Jaccard) or shared LSH band
    buckets (MinHash), so cost tracks true-duplicate density, not n²;
  * hashes are md5-based (bit-identical in any engine) rather than
    Spark-internal ``hash()``, keeping results reproducible and
    oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metalpipe_spark.materialize import materialize, release
from metalpipe_spark.operators.text import fingerprint


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per normalized-text fingerprint."""
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .drop("__fp")
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document as an array column.

    Implemented as overlapping zero-width-lookahead regex captures:
    ``(?<![^ ])(?=(\\S+( \\S+){n-1}))`` matches once at each token start
    and captures the n-gram ahead of it.  This stays whole-stage-codegen
    JVM regex — the ``sequence``/``transform``/``element_at`` HOF
    formulation runs interpreted per element and measured ~8x slower.
    Assumes single-space token delimiting (as the corpus and the SQL
    oracle's ``string_split(' ')`` do); documents with fewer than ``n``
    tokens yield an empty (not singleton) array.
    """
    col = F.col(text) if isinstance(text, str) else text
    pat = r"(?<![^ ])(?=(\S+" + r" \S+" * (n - 1) + r"))"
    return F.array_distinct(F.regexp_extract_all(col, F.lit(pat), 1))


def jaccard_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.05,
    max_doc_frequency: int | None = 1000,
    pair_partitions: int | None = None,
) -> DataFrame:
    """N-gram Jaccard near-duplicate pairs.

    Plan shape: explode distinct shingles → self-join on shingle (both
    sides partitioned by the shingle hash — co-located, no broadcast of
    the corpus) → count intersections per pair → Jaccard against
    per-doc shingle counts.

    ``max_doc_frequency`` caps hot shingles: a shingle appearing in d
    documents contributes d² rows to the self-join, so one boilerplate
    sentence shared by millions of documents is a quadratic blowup on a
    single key that AQE cannot split.  Shingles above the cap are dropped
    from candidate generation (the standard production approximation —
    ubiquitous shingles carry no near-dup signal anyway).  Per-doc sizes
    are computed over the SAME surviving-shingle universe, so the
    reported ``jaccard`` is the exact Jaccard of the filtered shingle
    sets and ``threshold`` keeps its stated meaning for every pair —
    capped boilerplate neither inflates denominators nor silently
    tightens the cut (it simply stops counting as signal on either side).
    With the cap off the universe is all shingles and the value is the
    classical n-gram Jaccard (the oracle-exact configuration).

    The cap defaults ON (1000): at corpus scale the quadratic hot-key
    path must be opted into, not out of.  ``None`` disables it (the
    oracle-exact configuration).

    Hot shingles are found with ``groupBy('shingle').count()`` — which
    partial-aggregates map-side, so no task ever buffers a hot shingle's
    full posting list (a count-window over the same key would) — and
    removed with a broadcast anti-join: shingles with df > cap are by
    construction few, so the hot list always fits a broadcast.
    """
    # The shingle table feeds three consumers (both self-join sides and
    # the per-doc sizes) and is not persisted: the explode is a cheap
    # scan-side recompute, and measured at sf0.1 caching it cost ~4x
    # the recompute it saves.
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )
    joinable = sh
    if max_doc_frequency is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_frequency)
            .select("shingle")
        )
        joinable = sh.join(F.broadcast(hot), "shingle", "left_anti")
    if pair_partitions is not None:
        # Parallelism floor for the pair-explosion stage (guide §2.5):
        # the self-join's cost is per-PAIR CPU, but AQE sizes its task
        # count by the shingle table's shuffle BYTES, serializing the
        # quadratic expansion through a handful of tasks on low-byte
        # inputs.  An explicit count is exempt from AQE coalescing and
        # satisfies the join's required distribution, so the Exchange
        # count is unchanged — and all three consumers (both join
        # sides and the per-doc sizes) now share this one exchange
        # instead of re-running the shingle explode per subtree.
        # Callers size it from input metadata
        # (sources.readers.cpu_pair_partitions self-disables at scale).
        joinable = joinable.repartition(pair_partitions, "shingle")
    # Sizes over the surviving universe (== all shingles when uncapped)
    # keep the Jaccard exact w.r.t. the sets actually being compared.
    sizes = joinable.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = joinable.alias("a")
    b = joinable.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"))
    # NO broadcast hint on the sizes table: it is one row per DOCUMENT
    # (corpus-sized), and a forced broadcast bypasses AQE's size checks
    # straight into driver OOM at the scale this module targets; the
    # plain join stays co-partitioned on the pair ids, and AQE still
    # broadcasts it at runtime when it genuinely fits.
    jac = (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("d1", "d2", "inter", "jaccard")


def _check_hash(hash: str) -> None:
    """The shared validator for the production-hash knob: ``"md5"`` is
    the portable default (DuckDB-replayable — every oracle row stays on
    it), ``"xxhash64"`` the JVM-native production path (~4x the md5
    throughput, same uniformity, NOT replayable by the oracle).  The
    DSIR family's ``bucket_hash`` (curation.py) set the pattern; this
    generalizes it to minhash/simhash/bloom/HLL/count-min, whose md5
    sits on the 100 TB hot path (one hash per shingle/token/gram)."""
    if hash not in ("md5", "xxhash64"):
        raise ValueError(f"hash must be 'md5' or 'xxhash64', got {hash!r}")


def _hash64(col: Column, hash: str = "md5") -> Column:
    """60-bit nonneg integer hash.  md5: hex → first 15 nibbles →
    bigint, identical in Spark (conv) and ANSI engines ('0x…'::bigint).
    xxhash64: pmod into the SAME [0, 2^60) range (pmod, never abs —
    abs(Long.MIN) throws under ANSI; pmod is total), so width-dependent
    consumers (simhash bit slices, HLL register/rank split) keep their
    geometry unchanged."""
    _check_hash(hash)
    if hash == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(1 << 60).cast("long"))
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hash64b(col: Column, hash: str = "md5") -> Column:
    """A SECOND independent 60-bit hash of the same value: md5 nibbles
    16-30 (disjoint from :func:`_hash64`'s 1-15, so the pair carries
    the digest's first 120 bits), or a re-salted xxhash64.  Exists for
    the incremental ExactSubstr store, whose cross-batch window
    identity must not bottleneck on one 60-bit token hash (r14 advisor
    finding: stacking moduli over ONE stream caps at that stream's
    width for single-token substitutions)."""
    _check_hash(hash)
    if hash == "xxhash64":
        return F.pmod(
            F.xxhash64(col, F.lit("__ds2")), F.lit(1 << 60).cast("long")
        )
    return F.conv(F.substring(F.md5(col), 16, 15), 16, 10).cast("long")


def _hash32(col: Column, hash: str = "md5") -> Column:
    """32-bit nonneg hash (md5: first 8 nibbles; xxhash64: pmod 2^32).
    Small enough that ``a*h + b`` stays inside int64 for 31-bit
    coefficients — the basis of the affine minhash family below."""
    _check_hash(hash)
    if hash == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(1 << 32).cast("long"))
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic 31-bit odd/even affine coefficients (a_i, b_i) for
    the h_i(x) = (a_i*x + b_i) mod 2^32 family.  Fixed golden-ratio
    multipliers keep them reproducible in any engine — no RNG."""
    coeffs = []
    for i in range(num_hashes):
        a = (0x9E3779B1 * (2 * i + 1)) % (1 << 31) | 1
        b = (0x85EBCA77 * (i + 1)) % (1 << 31)
        coeffs.append((a, b))
    return coeffs


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    hash: str = "md5",
) -> DataFrame:
    """MinHash signatures: sig[i] = min over shingles of h_i(shingle)
    with the affine family h_i(x) = (a_i*hash32(x) + b_i) mod 2^32 —
    ONE md5 per shingle, then pure int64 arithmetic (Broder's classic
    scheme).

    Plan shape: explode shingles → md5 per shingle → groupBy(doc) with 16
    MIN aggregates.  Everything is whole-stage-codegen arithmetic (the
    array-transform formulation runs interpreted — higher-order functions
    have no codegen — and measured ~3x slower); the single shuffle
    partial-aggregates map-side, so per-executor traffic is one row of 16
    longs per document.  Documents with zero shingles produce no rows
    (callers union them back if empty docs must survive)."""
    mod = F.lit(1 << 32).cast("long")
    hashed = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("__sh")
    ).select(F.col(id_col), _hash32(F.col("__sh"), hash).alias("__h"))
    mins = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % mod).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    ]
    agg = hashed.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias(
            # Provenance stamp: the signature table CARRIES the hash fn
            # it was built with (column metadata travels with the
            # attribute through select/filter/join), so downstream
            # persisted stores (band_store) read the truth from the
            # table instead of trusting a caller-supplied parameter —
            # a prebuilt-xxhash64 table passed with the default
            # hash='md5' must not poison a store's marker.
            "minhash",
            metadata={"mp.hash": hash},
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    signatures: DataFrame | None = None,
    threshold: float | None = None,
    hash: str = "md5",
) -> DataFrame:
    """MinHash + LSH banding: documents sharing any band signature become
    candidate pairs; estimated similarity = fraction of matching minhash
    components.  Pairs meet through band buckets (groupBy band key), so
    the join is bucket-local — the standard shape that survives 100 TB.

    ``signatures`` accepts a prebuilt/materialized signature table
    (``(id, minhash)`` with ``num_hashes`` components — e.g. the
    catalog's shared signature stage) so several consumers in one
    session plan the shingle→minhash pipeline exactly once.

    ``threshold`` overrides ``bands`` with the S-curve-optimal band
    count for that Jaccard target (:func:`tune_lsh_bands`) — say what
    similarity you mean and let the divisor arithmetic pick the
    banding.
    """
    if threshold is not None:
        bands, _ = tune_lsh_bands(threshold, num_hashes)
    sigs = (
        signatures
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, n, num_hashes, hash)
    )
    banded = _banded_signatures(sigs, id_col, num_hashes, bands)
    return _pairs_from_bands(banded, id_col, num_hashes)


def _banded_signatures(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """``(id, minhash, band_key)`` rows from a signature table — THE band
    key construction, shared by :func:`minhash_lsh_pairs` and
    :func:`band_store` (a second hand-written copy of this format would
    silently break store compatibility the day one of them changed)."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}): trailing signature components would silently "
            "never key any band, changing the LSH S-curve"
        )
    rows_per_band = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                ",",
                F.lit(str(b)),
                *[
                    F.element_at("minhash", b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ],
            )
        ).alias("band_key")
        for b in range(bands)
    ]
    return sigs.select(
        id_col, "minhash", F.explode(F.array(*band_cols)).alias("band_key")
    )


def _pairs_from_bands(banded: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """LSH candidate pairs from a prebuilt ``(id, minhash, band_key)``
    band table (the shape :func:`band_store` persists): bucket-local
    self-join on ``band_key``, then estimated Jaccard as the matching
    minhash-component fraction.  Shared by :func:`minhash_lsh_pairs`
    (fresh bands) and :func:`incremental_neardup_dedup` (reuses the
    batch band table it already built, so the signature pipeline is
    planned once, not re-derived per consumer)."""
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.col("a.minhash").alias("m1"),
            F.col("b.minhash").alias("m2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    return cand.withColumn(
        "est_jaccard",
        F.size(F.filter(F.zip_with("m1", "m2", lambda x, y: x == y), lambda e: e)).cast("double")
        / F.lit(num_hashes).cast("double"),
    ).select("d1", "d2", "est_jaccard")


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node links its strictly-larger neighbors to
    the minimum of its neighborhood (including itself)."""
    sym = _symmetrize(edges)
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node links itself and its smaller neighbors
    to the minimum of its smaller neighborhood."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    return (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _driver_components(spark, raw: DataFrame) -> DataFrame:
    """Union-find over a COLLECTED edge list — the small-graph fast path
    of :func:`connected_components`.  Pairs with a NULL endpoint
    contribute nothing (matching the distributed path, where ``u != v``
    and ``u == v`` are both NULL-false); self-pairs register their node
    as a 1-node component."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in raw.collect():
        u, v = row[0], row[1]
        if u is None or v is None:
            continue
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[rv] = ru
    mins: dict = {}
    for x in parent:
        r = find(x)
        m = mins.get(r)
        if m is None or x < m:
            mins[r] = x
    data = [(x, mins[find(x)]) for x in parent]
    ut = raw.schema[0].dataType
    schema = StructType(
        [StructField("node", ut), StructField("cluster_id", ut)]
    )
    return spark.createDataFrame(data, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iterations: int = 25,
    driver_max_edges: int = 500_000,
) -> DataFrame:
    """Connected components of a pair list → ``(node, cluster_id)`` rows,
    ``cluster_id`` = the minimum node id in the component.  Every node that
    appears in ``pairs`` gets exactly one output row (roots map to
    themselves).

    This is the alternating large-star / small-star algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SOCC'14): each
    round is one groupBy-min plus a same-key join (both map-side
    partial-aggregating, no windows buffering a hot key), and the edge
    set converges to per-component stars in O(log n) rounds even on
    pathological long-chain graphs — the property plain min-label
    propagation (O(diameter) rounds) lacks.

    Per round the lineage is truncated with
    :func:`~metalpipe_spark.materialize.materialize`: executor-local
    blocks by default, reliable checkpoint files that survive executor
    loss once the session has a checkpoint dir (``spark.checkpoint.dir``).
    Superseded rounds' blocks are released as the loop goes; their
    reliable files are bounded (one edge set per round) and are
    reclaimed by the context cleaner when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``.

    Convergence is detected STRUCTURALLY in the round that produces the
    final state, so no confirm round runs: the algorithm's fixpoints are
    exactly star forests centered at component minima, and a
    small-star-oriented edge set (``u > v`` everywhere) is a star forest
    iff every leaf carries exactly one edge (``count == distinct u``)
    and no center is also a leaf (``u``/``v`` sets disjoint, i.e.
    ``distinct u + distinct v == distinct nodes``).  Both checks run as
    one job on one-row aggregates — no edge data ever reaches the
    driver, and the saved round is a full LS+SS pass at any scale.

    **Adaptive small-graph path**: when the pair list has at most
    ``driver_max_edges`` rows (one count on the checkpointed pairs — a
    job the first round would have paid anyway), the edges are a
    BOUNDED driver fetch (16 bytes/edge → ≤ ~8 MB at the default) and
    components resolve by union-find in microseconds, skipping the
    iterative rounds whose cost at small edge counts is pure job
    scheduling (measured ~4 s for under 100 edges).  Near-dup pair
    graphs are pair-THRESHOLDED, so even 100 TB corpora commonly yield
    edge sets within this bound per batch; above it, the distributed
    loop runs unchanged — the shape that survives billions of edges.
    ``driver_max_edges=0`` disables the fast path (tests pin the loop
    with it).
    """
    spark = pairs.sparkSession
    # Keys keep their input type: orderable comparisons (least/greatest,
    # </>) are all the algorithm needs, so string/long ids both work.
    # The raw pair list is lazily checkpointed ONCE: round 1's
    # materializing action runs through it (persisting its blocks), so
    # the self-only branch below reads those blocks at output time
    # instead of re-executing the entire pair-generation pipeline — the
    # un-checkpointed form measured one full extra LSH pass per action
    # on the result.  Storage cost is one edge-sized block set, the
    # same magnitude as a round's checkpoint.
    raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    raw = materialize(raw)
    if driver_max_edges:
        # Single-subtree count materializes the checkpoint blocks (the
        # round-1 action would have paid this job regardless); the
        # collect below then reads blocks, never re-running the pair
        # pipeline.
        if raw.count() <= driver_max_edges:
            out = _driver_components(spark, raw)
            release(raw)  # nothing downstream reads raw
            return out
    edges = raw.where(F.col("u") != F.col("v")).distinct()
    # Nodes appearing ONLY in reflexive pairs (u == v) would vanish with
    # the filtered edge — they are their own 1-node components and the
    # contract promises every node in ``pairs`` an output row.  The
    # anti-join runs against the FINAL star forest's node set (appended
    # after the loop): CC preserves the non-isolated node set, so it
    # equals the initial edge node set, and the final edges are already
    # checkpointed — the initial plan would re-execute.
    self_only_nodes = (
        raw.where(F.col("u") == F.col("v"))
        .select(F.col("u").alias("node"))
        .distinct()
    )
    prev = None
    # Shuffle partitions sized to the EDGE SET, not the session default:
    # each round's cost at small edge counts is task scheduling, not
    # data, and at billions of edges the session default (sized for
    # scans) underscales the per-round groupBy+join.  The count from
    # each round's convergence aggregate sizes the NEXT round — zero
    # extra jobs.  Round 1 runs at the session default.  Same
    # single-threaded-driver caveat as state_partition_scope: the pin
    # is session-global while the loop runs.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        it = 0
        converged = False
        while it < max_iterations:
            # Round fusion: after round 1, chain TWO lazily-checkpointed
            # LS+SS rounds per convergence check — one driver job
            # materializes both (the aggregate below is the action).  At
            # small edge counts each round's cost is pure job-scheduling
            # overhead (BENCH_NOTES r7 measured ~2.9 s for ~10 rounds
            # over 77 edges), so halving the job count halves the fixed
            # constant; at billions of edges the shuffles dominate and
            # fusion is neutral.  Convergence can be detected one round
            # late, but the algorithm's fixpoints are stable (LS+SS on a
            # star forest returns the same star forest), so the output
            # is identical and the overshoot costs two cheap shuffles on
            # the final (smallest) edge set.  Round 1 runs alone so the
            # first edge count can size shuffle partitions before any
            # fused pair runs, and so already-converged inputs exit
            # after one round.
            fuse = 1 if it == 0 else min(2, max_iterations - it)
            rounds = []
            for _ in range(fuse):
                # Lazy checkpoint: the convergence aggregate below is the
                # action that materializes the whole fused chain, so each
                # check costs ONE job (an eager checkpoint + separate agg
                # measured ~2x the wall on small graphs, where per-job
                # overhead dominates).
                edges = materialize(_small_star(_large_star(edges)))
                rounds.append(edges)
                it += 1
            # Materialize the fused chain with a bare count() FIRST: a
            # single-subtree job, so the checkpoint blocks exist before
            # the two-subtree stats plan below runs.  Issued directly
            # against the stats crossJoin, its two independent aggregate
            # subtrees schedule as parallel leaf stages that RACE to
            # materialize the lazy checkpoint — each computing the
            # round's full upstream pipeline (the entire pair-generation
            # plan on round 1).  The extra count job is ~10 ms of
            # scheduling against a duplicated multi-second stage.
            n_edges = edges.count()
            # Star-forest test (see docstring) + edge count, one job on
            # the cached blocks: small-star output is always oriented
            # u > v, so the set is converged iff no leaf has two edges
            # (n == du) and no center is also a leaf (u/v sets disjoint,
            # checked as du + dv == distinct node count — counting is
            # cheaper than a distinct-distinct semi-join, measured).
            stats = edges.agg(
                F.count("*").alias("n"),
                F.count_distinct("u").alias("du"),
                F.count_distinct("v").alias("dv"),
            )
            dn = edges.select(F.explode(F.array("u", "v")).alias("x")).agg(
                F.count_distinct("x").alias("dn")
            )
            row = (
                stats.crossJoin(dn).first()
                if n_edges
                else {"n": 0, "du": 0, "dv": 0, "dn": 0}
            )
            # Everything before the newest round is materialized past the
            # truncation point, so earlier rounds' blocks can be dropped.
            for r in ([prev] if prev is not None else []) + rounds[:-1]:
                release(r)
            prev = rounds[-1]
            if row["n"] == row["du"] and row["du"] + row["dv"] == row["dn"]:
                converged = True
                break
            # ~1M edge rows (~50 MB) per reduce task, clamped like
            # sized_state_partitions.
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(1, min(10_000, row["n"] // 1_000_000 + 1))),
            )
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} rounds"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    members = edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    roots = (
        edges.select(F.col("v").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )
    self_only = self_only_nodes.join(
        edges.select(F.explode(F.array("u", "v")).alias("node")).distinct(),
        "node",
        "left_anti",
    ).withColumn("cluster_id", F.col("node"))
    return members.union(roots).union(self_only).distinct()


def dedup_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "d1",
    dst: str = "d2",
) -> DataFrame:
    """End-to-end near-dup removal: cluster the candidate ``pairs`` with
    :func:`connected_components` and keep, per cluster, only the canonical
    document (minimum id).  Documents in no cluster pass through.

    The loser set can be arbitrarily large at corpus scale, so it is
    removed with a shuffled ``left_anti`` join (never a broadcast/IN)."""
    comp = connected_components(pairs, src=src, dst=dst)
    losers = comp.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def dedup_corpus_keep_best(
    docs: DataFrame,
    assignments: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Quality-aware near-dup removal: given ``assignments`` of
    ``(id, cluster)`` (e.g. from :func:`connected_components`), keep per
    cluster the member with the HIGHEST ``score_col`` (ties broken by
    minimum id — a total order, so the survivor is deterministic), and
    pass documents in no cluster through untouched.

    :func:`dedup_corpus` keeps the minimum-id member; for a training
    corpus you usually want to keep the best-quality copy instead (the
    longest, the highest classifier score, the least-boilerplate one) —
    the survivor choice is policy, so the score is any numeric column
    already on ``docs``.

    Scale shape: one broadcast-or-shuffle join of docs to the (small,
    id+cluster only) assignment table, then a per-cluster MAX_BY — a
    single map-side-combined aggregate on the cluster key, never a
    window sort.  Unclustered docs pass through with a left_anti join
    (losers can be arbitrarily large, so no broadcast/IN)."""
    from pyspark.sql.types import NumericType

    if not isinstance(docs.schema[score_col].dataType, NumericType):
        raise ValueError(
            f"dedup_corpus_keep_best: score_col {score_col!r} must be "
            f"numeric, got {docs.schema[score_col].dataType.simpleString()}"
        )
    a = assignments.select(
        F.col(id_col), F.col(cluster_col).alias("__cl")
    )
    members = docs.join(a, id_col)  # only clustered docs carry scores
    # survivor = argmin over (score IS NULL, -score, id): one MIN_BY on
    # a lexicographic struct gives "highest score, then lowest id".
    # Only the score is negated (numeric by contract, validated above);
    # the id rides un-negated, so ANY orderable id type — string UUIDs
    # included — keeps the deterministic lowest-id tie-break (negating a
    # string id would cast to double -> NULL under non-ANSI, randomizing
    # ties, and error under ANSI).  The leading isNull flag pins NULL
    # scores below every real one regardless of engine NULL-ordering.
    # The negation happens in DOUBLE: -(Long.MIN_VALUE) overflows int64
    # (wrapping to itself under non-ANSI — the WORST-scored doc would
    # win — and erroring under ANSI); the double cast is total.  Integer
    # scores beyond 2^53 may tie in the cast, falling to the id
    # tie-break — still deterministic.
    winners = (
        members.groupBy("__cl")
        .agg(
            F.min_by(
                F.col(id_col),
                F.struct(
                    F.col(score_col).isNull(),
                    -F.col(score_col).cast("double"),
                    F.col(id_col),
                ),
            ).alias(id_col)
        )
        .select(id_col)
    )
    losers = a.select(id_col).join(winners, id_col, "left_anti")
    return docs.join(losers, id_col, "left_anti")


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32, hash: str = "md5") -> DataFrame:
    """SimHash fingerprint over tokens: bit j of the fingerprint is the
    majority vote of token-hash bit j.  ``bits`` is capped at 60 — the
    portable md5 hash is 60-bit, so bits 61-63 would be constant zero
    (silently weakening every Manku block keyed on the top bits) and
    bit 64 overflows the long literal; wider fingerprints need a second
    hash column, not a wider slice of this one.

    Plan shape: explode distinct tokens → ONE md5 per token → pack the
    per-bit indicator values into 21-bit counter lanes (3 per long)
    in a codegen projection → groupBy(doc) with ceil(bits/3) packed
    SUMs + a count → unpack lanes and majority-vote each bit in a
    post-projection.  Every expression is whole-stage-codegen
    arithmetic, the single shuffle partial-aggregates map-side (one row
    of ~12 longs per doc crosses the wire), and — the point of the
    packing — the generated HashAggregate class stays small: the
    previous one-SUM-per-bit shape (33-61 aggregate expressions) paid
    seconds of janino compile + JIT warm-up per fresh session, which is
    what a cold driver bench measures.  An earlier formulation ran
    ``bits`` separate ``F.aggregate`` higher-order folds per row — HOFs
    don't codegen, ~32 interpreted array traversals per document.

    ``F.split`` yields at least ``[""]`` for any non-null string, and the
    text column is coalesced to ``''`` first, so every document — null
    text included — survives the groupBy (row counts are preserved; a
    null-text doc fingerprints identically to an empty-text doc, the
    same contract the pre-reshape per-row expression had).
    """
    if bits > 60:
        raise ValueError(
            f"simhash bits must be <= 60 (portable hash width), got {bits}"
        )
    toks = F.array_distinct(F.split(F.coalesce(F.col(text_col), F.lit("")), r" "))
    hashed = df.select(F.col(id_col), F.explode(toks).alias("__t")).select(
        F.col(id_col), _hash64(F.col("__t"), hash).alias("__h")
    )
    # Per-bit votes PACKED into 21-bit counter lanes, 3 lanes per long,
    # computed in a pre-aggregate projection so the groupBy carries only
    # ceil(bits/3) SUMs + one count (12 aggregates at 32 bits, 21 at 60,
    # vs one SUM per bit before).  The per-bit shape was correct and
    # map-side combining, but its generated HashAggregate class (33-61
    # aggregate expressions) paid seconds of janino compile + JVM JIT
    # warm-up per fresh session — the driver's median-of-3 sat entirely
    # in that warm-up tail (r7: 6.12 s median vs ~1.0 s steady state).
    # Packing moves the bit arithmetic into a cheap codegen projection
    # and keeps the aggregate class small enough to compile fast.  Lane
    # geometry is chosen for ANSI safety: with 21-bit lanes at offsets
    # 0/21/42 the worst-case sum is (2^21-1)*(2^42+2^21+1) = 2^63-1,
    # EXACTLY Long.MAX — the packed SUM can never trip ANSI overflow,
    # and lanes can't carry into each other while every per-doc distinct
    # token count stays below 2^21 (guarded below — silent lane overflow
    # would corrupt neighbor bits).
    lane_width, lanes_per_long = 21, 3
    lane_mask = (1 << lane_width) - 1
    n_packed = (bits + lanes_per_long - 1) // lanes_per_long
    packed_cols = []
    for g in range(n_packed):
        lanes = None
        for lane, j in enumerate(
            range(g * lanes_per_long, min(bits, (g + 1) * lanes_per_long))
        ):
            term = F.shiftleft(
                F.shiftright("__h", j).bitwiseAND(F.lit(1)), lane_width * lane
            )
            lanes = term if lanes is None else lanes.bitwiseOR(term)
        packed_cols.append(lanes.alias(f"__p{g}"))
    packed = hashed.select(F.col(id_col), *packed_cols)
    agg = packed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(f"__p{g}").alias(f"__s{g}") for g in range(n_packed)],
    )
    fp = None
    for j in range(bits):
        g, lane = j // lanes_per_long, j % lanes_per_long
        vote = F.shiftright(F.col(f"__s{g}"), lane_width * lane).bitwiseAND(
            F.lit(lane_mask)
        )
        bit = F.when(vote * 2 > F.col("__n"), F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    # Loud failure instead of silent counter-lane overflow: assert_true
    # yields NULL when the predicate holds, so the coalesce contributes 0
    # to the fingerprint and cannot be pruned out of the plan.
    guard = F.coalesce(
        F.assert_true(
            F.col("__n") < F.lit(1 << lane_width),
            F.lit(
                f"simhash: document has >= {1 << lane_width} distinct tokens; "
                "packed vote counter lanes would overflow (pre-chunk the document)"
            ),
        ).cast("long"),
        F.lit(0),
    )
    return agg.select(F.col(id_col), (fp + guard).cast("long").alias("simhash"))


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    return_delta: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an existing corpus fingerprint store —
    the shape a continuously-ingesting 100 TB pipeline actually runs
    (full-corpus re-dedup per batch is a non-starter).

    Returns ``(fresh, updated_store)``: ``fresh`` keeps the lowest-id
    new document per fingerprint that the store has never seen
    (in-batch dedup THEN a shuffled ``left_anti`` against the store);
    ``updated_store`` is the union for the next batch.  The store is
    one md5 row per unique doc — at warehouse scale keep it as a
    bucketed table on ``fingerprint`` so the anti-join co-locates
    without a store-side shuffle.

    ``seen_fingerprints`` schema: a ``fingerprint`` column; pass None
    for a first batch.  ``return_delta=True`` returns only the batch's
    NEW fingerprints in the second position — the store is strictly
    append-only (fresh rows are anti-joined against it), so a
    delta-segment sink (``_incremental_store_sink(append_only=True)``)
    writes O(batch) per trigger instead of rewriting the corpus-scale
    fingerprint table.
    """
    fp = new_docs.withColumn("__fp", fingerprint(text_col))
    batch_canon = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    if seen_fingerprints is not None:
        store = seen_fingerprints.select(F.col("fingerprint").alias("__fp"))
        batch_canon = batch_canon.join(store, "__fp", "left_anti")
    fresh = (
        batch_canon.join(new_docs, id_col)
        .select(*new_docs.columns, F.col("__fp").alias("fingerprint"))
    )
    new_fps = fresh.select("fingerprint")
    updated = (
        new_fps
        if (seen_fingerprints is None or return_delta)
        else seen_fingerprints.select("fingerprint").union(new_fps)
    )
    return fresh, updated


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    max_hamming: int = 3,
    blocks: int | None = None,
    combo: int = 1,
    hash: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``,
    found via block banding (Manku et al., WWW'07): split the
    fingerprint into ``max_hamming + 1`` equal blocks — any pair within
    distance k differs in at most k blocks, so by pigeonhole it shares
    at least one block verbatim.  Candidates meet through
    (block_index, block_value) buckets — never all pairs — and the
    exact hamming check is one codegen ``bit_count(xor)`` per
    candidate.  Same bucket-join scale shape as MinHash-LSH, but over
    an integer fingerprint (8 bytes/doc of state instead of a
    signature array).

    Effective key width (``combo * bits/blocks``) must clear
    log2(corpus size) or buckets overfill and the candidate join
    quadratically explodes — the 60-bit default (15-bit single-block
    keys, max the 60-bit portable token hash supports inside signed
    int64) keeps expected bucket occupancy < 1 up to ~10^4 docs per
    block value and measured 12x faster than 32-bit/8-bit blocks at
    sf0.1.  Template-heavy corpora overfill single blocks long before
    the EXPECTED occupancy does (near-identical boilerplate shares
    whole blocks); raise ``combo`` — see
    :func:`hamming_neardup_pairs` — to key block COMBINATIONS
    (blocks=6, combo=3 keys 30 bits through 20 combinations; the
    catalog row's configuration).  For 10^9-doc corpora, also raise
    ``bits`` (e.g. 64 via a second hash) so the combined key keeps
    clearing log2(n)."""
    fp = simhash(df, text_col, id_col, bits, hash)
    # Codes are always cached here (unlike the raw hamming engine): the
    # simhash code pipeline is a token explode + packed-lane groupBy —
    # a full shuffle-aggregate per reference — and the banded self-join
    # references it once per side, so without the 16-byte/doc
    # materialization the corpus tokenizes and aggregates twice per
    # action (r17 A/B: the audio/video precedent, guide §2.4/§5).
    return hamming_neardup_pairs(
        fp, code_col="simhash", id_col=id_col,
        bits=bits, max_hamming=max_hamming, blocks=blocks, combo=combo,
        cache_codes=True,
    )


def hamming_block_keys(bits: int, max_hamming: int, blocks: int, combo: int) -> list[tuple[int, ...]]:
    """The block-index combinations that key the Manku banding: every
    ``combo``-subset of the ``blocks`` blocks.  A pair within hamming
    ``max_hamming`` flips bits in at most ``max_hamming`` blocks, so it
    agrees on at least ``blocks - max_hamming`` blocks — and therefore
    matches verbatim on at least one enumerated ``combo``-subset
    whenever ``combo <= blocks - max_hamming`` (validated): perfect
    recall by pigeonhole, at any combo width."""
    from itertools import combinations

    if bits % blocks:
        raise ValueError(f"bits={bits} not divisible by blocks={blocks}")
    if blocks - max_hamming < combo:
        raise ValueError(
            f"combo={combo} keys cannot guarantee recall at "
            f"max_hamming={max_hamming} with blocks={blocks}: need "
            f"combo <= blocks - max_hamming"
        )
    return list(combinations(range(blocks), combo))


def hamming_neardup_pairs(
    codes: DataFrame,
    code_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 3,
    blocks: int | None = None,
    combo: int = 1,
    cache_codes: bool = False,
) -> DataFrame:
    """Pairs within hamming distance ``max_hamming`` over ANY integer
    code column via Manku block banding (Manku et al., WWW'07 §3) — the
    shared engine behind :func:`simhash_neardup_pairs` (text
    fingerprints) and the image perceptual-hash dedup
    (``multimodal.image_dhash`` codes): split the code into ``blocks``
    equal blocks and key every ``combo``-subset of blocks
    (:func:`hamming_block_keys`).  A pair within distance k flips at
    most k blocks, so it agrees verbatim on some ``combo``-subset —
    perfect recall by pigeonhole — and candidates meet through
    (combo_index, concatenated block values) buckets, never all pairs;
    the exact check is one codegen ``bit_count(xor)`` per candidate.
    Arithmetic shiftright on a 64-bit code's sign bit is masked off, so
    full-width codes band correctly.  Output: ``(d1, d2, hamming)``
    with ``d1 < d2``.

    ``combo`` is the selectivity lever — exactly Manku's
    multiple-tables-over-block-unions construction: ``combo=1``
    (default) keys single blocks of width bits/blocks, the minimal
    replication (``blocks`` rows/doc) that works when block width
    clears log2(corpus size).  On template-heavy corpora single blocks
    overfill — the sf1 scaling corpus puts 13.4k docs in ONE 15-bit
    block value, 90M candidate pairs in a single bucket that no
    scheduler can split (skew detection is input-byte-based and cannot
    see output explosion) — and raising ``combo`` widens the effective
    key (combo * bits/blocks bits) at the cost of C(blocks, combo)
    rows/doc: 60-bit codes at blocks=6, combo=3 key 30 bits through 20
    combinations.  Measured at sf1: worst bucket 13.4k -> 3.5k docs
    (90M -> 6M pairs inside it), wall 70-168 s -> 15 s for the same
    18.7M output pairs.  Raise blocks/combo further when corpus
    cardinality approaches 2^(combo * bits/blocks).

    ``cache_codes=True`` materializes the ``(id, code)`` projection
    once (lazy checkpoint, ContextCleaner-dropped) before the
    self-join references it twice.  The join sides are NOT otherwise
    shared: when one side broadcasts (the usual local outcome) there is
    no common Exchange for ReuseExchange to collapse, so the whole
    upstream code pipeline executes once per side.  Flip it on when
    that pipeline is expensive — the multimodal numpy kernels pay the
    Arrow boundary plus per-row decode twice (r17 A/B: q_audio_neardup
    ~2x faster, guide §2.4/§5); leave it off for cheap map-side code
    pipelines, where recompute beats cache write+read (as for the
    minhash signature pipeline).  Cached state is 16
    bytes/doc — never payloads."""
    if cache_codes:
        codes = materialize(codes.select(id_col, code_col))
    banded = _banded_codes(codes, code_col, id_col, bits, max_hamming, blocks, combo)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.col(f"a.{code_col}").alias("s1"),
            F.col(f"b.{code_col}").alias("s2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("long")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def _banded_codes(
    codes: DataFrame,
    code_col: str,
    id_col: str,
    bits: int,
    max_hamming: int,
    blocks: int | None,
    combo: int,
) -> DataFrame:
    """``(id, code, bk)`` rows under the Manku combination keys — the
    shared band table behind :func:`hamming_neardup_pairs` (self-join)
    and :func:`incremental_hamming_dedup` (batch-vs-store join)."""
    blocks = blocks or max_hamming + combo
    combos = hamming_block_keys(bits, max_hamming, blocks, combo)
    width = bits // blocks
    mask = (1 << width) - 1
    keys = []
    for j, idxs in enumerate(combos):
        key = F.lit(j << (combo * width)).cast("long")
        for t, i in enumerate(idxs):
            block = F.shiftright(F.col(code_col), i * width).bitwiseAND(F.lit(mask))
            key = key + F.shiftleft(block, t * width)
        keys.append(key.cast("long"))
    return codes.select(
        F.col(id_col), F.col(code_col), F.explode(F.array(*keys)).alias("bk")
    )


def incremental_hamming_dedup(
    new_codes: DataFrame,
    store: DataFrame | None,
    code_col: str = "code",
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 3,
    blocks: int | None = None,
    combo: int = 1,
    return_delta: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup dedup of a NEW batch of hamming codes against the
    accumulated corpus — the incremental twin of
    :func:`hamming_neardup_pairs`, and the continuously-ingesting shape
    for IMAGE dedup (``multimodal.image_dhash`` codes) exactly as
    :func:`incremental_neardup_dedup` is for MinHash text: in-batch
    near-dups resolve by connected components first (lowest id
    survives), then surviving codes band-join the store under the same
    Manku combination keys and drop on ``bit_count(xor) <= max_hamming``.

    Returns ``(fresh, updated_store)``; the store carries one
    ``(id, code)`` row per surviving item — 8 bytes of dedup state per
    image/document, bucketable on the band key at warehouse scale.  The
    same cross-batch transitivity caveat as the MinHash twin applies
    (membership is decided against surviving canonicals at arrival
    time).  ``return_delta=True`` returns only the batch's surviving
    codes in the second position — the store is strictly append-only,
    the delta-segment sink contract."""
    in_pairs = hamming_neardup_pairs(
        new_codes, code_col, id_col, bits, max_hamming, blocks, combo
    )
    survivors = dedup_corpus(
        new_codes, in_pairs, id_col=id_col, src="d1", dst="d2"
    )
    if store is not None:
        a = _banded_codes(
            survivors, code_col, id_col, bits, max_hamming, blocks, combo
        ).alias("a")
        b = _banded_codes(
            store, code_col, id_col, bits, max_hamming, blocks, combo
        ).alias("b")
        hits = (
            a.join(b, F.col("a.bk") == F.col("b.bk"))
            .where(
                F.bit_count(
                    F.col(f"a.{code_col}").bitwiseXOR(F.col(f"b.{code_col}"))
                )
                <= max_hamming
            )
            .select(F.col(f"a.{id_col}").alias(id_col))
            .distinct()
        )
        survivors = survivors.join(hits, id_col, "left_anti")
    fresh_codes = survivors.select(id_col, code_col)
    updated = (
        fresh_codes
        if (store is None or return_delta)
        else store.select(id_col, code_col).unionByName(fresh_codes)
    )
    return survivors, updated


def duplicate_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    anchor_stride: int = 8,
    guaranteed_gap: int | None = None,
) -> DataFrame:
    """Duplicate-SPAN removal — a content-defined-anchor approximation
    of suffix-array ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): hash the
    ``window``-token span starting at every ANCHOR token (a token whose
    64-bit hash ≡ 0 mod ``anchor_stride`` — the rsync/LBFS
    content-defined-chunking trick), keep the globally FIRST occurrence
    of each span (ordered by ``(doc, start)``), and delete every token
    covered by a later occurrence.  Documents reassemble from their
    surviving tokens; documents reduced to nothing disappear (the
    :func:`chunk_level_dedup` contract, which this refines: chunking
    catches duplication at fixed offsets, spans catch it anywhere).

    Content-defined anchoring is what makes detection OFFSET-ROBUST:
    a position-grid window (every k-th token) only matches across two
    occurrences when their offsets agree mod k, so a copied paragraph
    pasted one token later escapes entirely.  Anchors are a function of
    token CONTENT, so identical runs anchor at identical interior
    positions wherever they sit.  Approximation contract vs a true
    suffix array: a duplicated run is caught iff it contains an anchor
    in its first ``L - window + 1`` tokens — deterministic per content,
    expected anchor gap ``anchor_stride``, so runs of length
    ``>= window + anchor_stride`` escape only when their tokens happen
    to contain no anchor (probability ~(1 - 1/stride)^(L - window + 1));
    ``anchor_stride=1`` anchors every token (exhaustive sliding window).

    ``guaranteed_gap=w`` escalates the anchors with WINNOWING
    (Schleimer et al., SIGMOD'03): in every window of ``w`` consecutive
    token positions, the rightmost-argmin of the token hashes is also
    an anchor.  That bounds the anchor gap at ``w`` BY CONSTRUCTION —
    no token vocabulary can dodge it (the mod-stride anchors are a
    content PREDICATE an adversary can simply avoid; an argmin always
    exists) — and stays offset-robust: fully-interior windows of a
    duplicated run see only run content, and the rightmost tie-break
    is positional only among EQUAL hashes, where relative and absolute
    order agree across copies.  Guarantee: every duplicated run of
    length ``>= window + 2*guaranteed_gap`` is caught regardless of
    content (first fully-interior window ends within ``2w`` of the run
    start).  Price: an O(``guaranteed_gap``) array-local fold per token
    inside the same per-document projection the probabilistic path
    already runs — no extra shuffle, no per-document sort (the round-13
    rework; the original window-function formulation shuffled
    token-scale rows and measured 1.9x slower) — worth paying when the
    corpus may contain adversarial or systematically anchor-free text;
    the probabilistic default keeps the catalog row's plan unchanged.

    Scale shape (reworked round 12 — the span-hash stage previously
    exploded ``window`` coverage rows per anchor into a corpus-scale
    (doc, pos) join plus a collect_list/sort per anchor, three
    token-scale shuffles before the first real aggregation): anchor
    detection AND span hashing now happen in ONE per-document
    projection over the token array (``filter`` the anchor positions,
    ``slice`` + ``concat_ws`` + ``md5`` per anchor — all array-local,
    zero shuffle; per-doc state bounded by document size, exactly the
    reassembly bound this operator already carries).  Only
    ANCHOR-scale ``(id, start, hash)`` rows ever shuffle:
    first-occurrence is one ``groupBy(hash).min`` joined back
    hash-co-located; removal shuffles are bounded by DUPLICATED-span
    volume; reassembly state is bounded by document size.  Measured:
    equal at sf0.1, 2.1x at sf1 (7.0 → 3.3 s) — the eliminated
    shuffles are what grew super-linearly (BENCH_NOTES r12).  Output:
    ``(id, clean_text, n_kept)``."""
    if window < 1 or anchor_stride < 1:
        raise ValueError(
            f"duplicate_span_dedup: window ({window}) and anchor_stride "
            f"({anchor_stride}) must be >= 1"
        )
    if guaranteed_gap is not None and guaranteed_gap < 1:
        # gap=0 would build Window.rowsBetween(1, 0) — an inverted frame
        # whose analysis error names nothing the caller typed; fail here
        # with the parameter's own contract instead.
        raise ValueError(
            f"duplicate_span_dedup: guaranteed_gap must be >= 1 (got "
            f"{guaranteed_gap}); it is the winnowing window width — "
            "every run of length >= window + 2*guaranteed_gap is caught"
        )
    # Tokenize ONCE into an attribute: codegen does not CSE the split
    # between the size expression and the posexplode generator.
    docs = df.select(
        F.col(id_col),
        F.split(F.coalesce(F.col(text_col), F.lit("")), r" ").alias("__tk"),
    ).withColumn("__n", F.size("__tk"))
    tokpos = docs.select(
        id_col, "__n", F.posexplode("__tk").alias("pos", "tok")
    )
    last = F.col("__n") - window  # last valid span start (0-based)
    if guaranteed_gap is not None:
        # Array-native winnowing (round 13): anchor detection happens in
        # the SAME per-document projection as the probabilistic path —
        # ZERO token-scale shuffles.  The previous formulation ran a
        # window function over posexploded tokens (token-scale shuffle +
        # per-doc sort) and a second token→doc shuffle to collect anchor
        # positions; measured 1.9x slower at sf0.1 than this shape.
        # Hash every token ONCE into an attribute (the CSE rule: the
        # fold below reads each hash up to `gap` times, and interpreted
        # HOF trees re-evaluate repeated subexpressions per reference).
        docs = docs.withColumn(
            "__th", F.transform(F.col("__tk"), lambda t: _hash64(t))
        )
        th = F.col("__th")
        # Sentinel above every real hash (hashes are < 2^60), so the
        # fold's first step always replaces the zero element.
        zero = F.struct(
            F.lit(1 << 62).cast("long").alias("h"), F.lit(0).alias("p")
        )

        def argmin_pos(i):
            # Rightmost argmin of th[lo..i]: fold left-to-right keeping
            # the LATEST element whose hash <= the running minimum —
            # ties resolve to the larger position by iteration order,
            # exactly min(struct(h, -p)) without building the negation.
            lo = F.greatest(i - (guaranteed_gap - 1), F.lit(0))
            pairs = F.transform(
                F.sequence(lo, i),
                lambda j: F.struct(
                    F.element_at(th, j + 1).alias("h"), j.alias("p")
                ),
            )
            folded = F.aggregate(
                pairs,
                zero,
                lambda acc, s: F.when(s["h"] <= acc["h"], s).otherwise(acc),
            )
            return folded["p"].cast("int")

        wn = F.transform(F.sequence(F.lit(0), F.col("__n") - 1), argmin_pos)
        pred_arr = F.filter(
            F.sequence(F.lit(0), F.col("__n") - 1),
            lambda i: F.pmod(
                F.element_at(th, i + 1), F.lit(anchor_stride)
            )
            == 0,
        ).cast("array<int>")
        anchors = F.filter(
            F.array_union(wn, pred_arr),  # distinct union, array-local
            lambda s: s + window <= F.col("__n"),
        )
    else:
        anchors = F.when(
            last >= 0,
            F.filter(
                F.sequence(F.lit(0), last),
                lambda i: F.pmod(
                    _hash64(F.element_at(F.col("__tk"), i + 1)),
                    F.lit(anchor_stride),
                )
                == 0,
            ),
        ).otherwise(F.array().cast("array<int>"))
    # Anchor positions into an attribute first (the CSE rule), then one
    # interpreted-HOF projection computes every span hash array-locally.
    w = (
        docs.withColumn("__anch", anchors)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.col("__anch"),
                    lambda i: F.struct(
                        i.alias("__s"),
                        F.md5(
                            F.concat_ws(
                                " ", F.slice(F.col("__tk"), i + 1, window)
                            )
                        ).alias("__h"),
                    ),
                )
            ).alias("__sp"),
        )
        .select(id_col, F.col("__sp.__s").alias("__s"), F.col("__sp.__h").alias("__h"))
    )
    ordered = F.array_sort(F.collect_list(F.struct("pos", "tok")))
    # First-occurrence as ONE window aggregate over the span-hash
    # partition (the r17 ExactSubstr keep-first rewrite): the former
    # groupBy(__h).min + join-back referenced `w` twice, and a partial
    # aggregate's exchange never matches a plain one, so the whole
    # tokenize/winnow/span-hash projection — the O(n*gap) interpreted
    # argmin fold included — executed once per side (guide §2.4: window
    # functions keyed like the aggregation need one exchange, not two
    # plus a duplicated subtree).
    dup = w.withColumn(
        "__f",
        F.min(F.struct(F.col(id_col).alias("d"), F.col("__s").alias("s"))).over(
            Window.partitionBy("__h")
        ),
    ).where(
        ~((F.col(id_col) == F.col("__f.d")) & (F.col("__s") == F.col("__f.s")))
    )
    cover = dup.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("__s"), F.col("__s") + window - 1)).alias("pos"),
    ).distinct()
    kept = tokpos.join(cover, [id_col, "pos"], "left_anti")
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            " ", F.transform(ordered, lambda s: s["tok"])
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )


# ~2^31 primes + bases for the multi-modulus rolling hash.  Products of
# two residues stay < 2^62 (int64-safe).  The batch operator uses the
# first TWO (~62 bits — candidates only; final grouping is on verified
# window CONTENT, so a collision costs a wasted verification, never a
# wrong result).  The incremental operator uses all FOUR, fed by TWO
# independent 60-bit token-hash streams (moduli 1-2 see stream 1,
# moduli 3-4 see stream 2 — md5 nibbles 1-15 vs 16-30): without the
# second stream, a single-token substitution collides on every modulus
# iff the two tokens' ONE 60-bit hashes are equal (CRT — the r14
# advisor's finding), capping the identity at ~60 bits regardless of
# how many moduli stack.  With it, single-token identity is ~120 bits
# and generic window identity ~124 bits, so at 1e13 windows (100 TB)
# expected birthday collisions stay ~5e-12.  Cross-batch verification
# would require storing window content, so there the hash IS the
# identity and this width is load-bearing.
_RK = (
    (1_000_003, 2147483647),  # (base B, prime p): p = 2^31 - 1
    (1_000_033, 2147483629),  # p = 2^31 - 19
    (1_000_037, 2147483587),  # p = 2^31 - 61
    (1_000_039, 2147483563),  # p = 2^31 - 85
)
_RK_POWS: dict = {}


def _rk_pows(n: int) -> list:
    """Per-worker cache of (B^i mod p, B^-i mod p) arrays up to n for
    every modulus — grown once, reused across batches."""
    import numpy as np

    cur = _RK_POWS.get("n", 0)
    if cur < n:
        for m, (B, p) in enumerate(_RK):
            binv = pow(B, p - 2, p)
            if cur == 0:
                fw, bw = [1], [1]
            else:
                fw, bw = list(_RK_POWS[m][0]), list(_RK_POWS[m][1])
            while len(fw) < n:
                fw.append(fw[-1] * B % p)
                bw.append(bw[-1] * binv % p)
            _RK_POWS[m] = (
                np.array(fw, dtype=np.int64),
                np.array(bw, dtype=np.int64),
            )
        _RK_POWS["n"] = n
    return [_RK_POWS[m] for m in range(len(_RK))]


def _rolling_window_hashes(
    th, L: int, mods: int = 2, first: int = 0, rk=None
):
    """All L-window rolling hashes of a token-hash vector under moduli
    ``first .. first + mods - 1``, O(n) each (``first`` lets a second
    token-hash stream run under its own moduli pair; ``rk`` overrides
    the production ``_RK`` table — the collision-injection knob: tests
    pass tiny primes so hash collisions actually occur and the verify
    stage's reject path runs for real).

    ``W_j = sum_i th[j+i] * B^(L-1-i) mod p`` for each start j, computed
    via the B^-i prefix-sum identity: a_i = th_i * B^-i; W_j =
    B^(j+L-1) * (prefix[j+L-1] - prefix[j-1]).  np.cumsum stays exact in
    int64 while n * p < 2^63 (n < 4e9 tokens per doc — guarded)."""
    import numpy as np

    n = len(th)
    if n < L:
        return tuple(np.empty(0, dtype=np.int64) for _ in range(mods))
    if n * 2147483647 >= (1 << 63):
        raise ValueError(f"document too long for int64 prefix sums: {n}")
    if rk is None:
        pows = _rk_pows(n + L)
        sel = [(_RK[m], pows[m]) for m in range(first, first + mods)]
    else:
        sel = []
        for B, p in rk[first : first + mods]:
            binv = pow(B, p - 2, p)
            fw, bw = [1], [1]
            while len(fw) < n + L:
                fw.append(fw[-1] * B % p)
                bw.append(bw[-1] * binv % p)
            sel.append(
                (
                    (B, p),
                    (
                        np.array(fw, dtype=np.int64),
                        np.array(bw, dtype=np.int64),
                    ),
                )
            )
    out = []
    for (B, p), (fw, bw) in sel:
        hm = np.asarray(th, dtype=np.int64) % p
        a = hm * bw[:n] % p
        pre = np.cumsum(a)
        s = pre[L - 1 :] - np.concatenate(([0], pre[: n - L]))
        out.append(s % p * fw[L - 1 : n] % p)
    return tuple(out)


def exact_substr_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_length: int = 32,
    hash: str = "md5",
    _rk=None,
) -> DataFrame:
    """EXACT duplicated-substring removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    ExactSubstr): every token covered by a duplicated run of
    ``min_length``-or-more tokens is deleted except in the run's
    globally FIRST occurrence (ordered by ``(doc, start)``), at ANY
    offset, for ANY token content.  This is the exactness guarantee
    :func:`duplicate_span_dedup` approximates with content-defined
    anchors (VERDICT r13 task 3 closes the gap).

    Key identity: a duplicated run of length >= L exists iff some
    EXACT L-token window is duplicated, and removing every non-first
    duplicated L-window removes exactly the non-first occurrences of
    all such runs.  So exhaustive stride-1 window hashing IS the exact
    algorithm — the trick is paying O(n), not O(n*L), for it:

    1. tokens hash once JVM-side (portable md5 / xxhash64 knob);
    2. per document, an Arrow-batched numpy kernel computes ALL window
       hashes with a double Rabin-Karp rolling hash in O(n) — the
       linear recurrence is the one step Spark's HOFs cannot express
       without O(n^2) array appends (reference point: Lee et al. build
       a suffix array; a rolling hash gives the same window-equality
       relation with distributed-friendly shapes);
    3. duplicated-window occurrences surface from ONE window count
       over the hash pair (r17: previously a groupBy + join-back that
       executed the window-hash kernel twice); candidates are bounded
       by DUPLICATED window volume, never corpus scale;
    4. candidates regroup on the md5 of the actual window CONTENT
       (array-local slice+concat, only on docs holding candidates) —
       rolling-hash collisions cost a wasted verification, never a
       wrong result: the output is exact, not probabilistic;
    5. non-first occurrences cover their positions; documents
       reassemble from surviving tokens (the duplicate_span_dedup
       output contract: ``(id, clean_text, n_kept)``; fully-covered
       documents disappear).

    At 100 TB: stages 1-2 ride the scan (zero shuffle); stage 3 is the
    one token-scale shuffle, shrunk by map-side combine to
    distinct-window scale; stages 4-5 scale with duplicate volume.

    ``_rk`` is the TEST-ONLY collision-injection knob: an override
    modulus table (tiny primes make rolling-hash collisions abundant)
    so the verify stage's reject path is exercised for real — never set
    in production.
    """
    if min_length < 1:
        raise ValueError(f"min_length must be >= 1, got {min_length}")
    _check_hash(hash)
    L = min_length
    docs = df.select(
        F.col(id_col),
        F.split(F.coalesce(F.col(text_col), F.lit("")), r" ").alias("__tk"),
    )
    idt = dict(docs.dtypes)[id_col]
    w = _window_hash_frame(docs, id_col, idt, L, hash, mods=2, rk=_rk)
    # Duplicated-window detection as ONE window count over (__w1, __w2)
    # instead of groupBy-then-join-back (r17, guide §2.4): the old
    # shape executed the O(n) rolling-hash kernel TWICE (once under the
    # aggregate's exchange, once under the join's — no ReusedExchange:
    # a partial-aggregate exchange never matches a plain one) and paid
    # three exchanges; this is one kernel pass and one exchange.  The
    # map-side combine the groupBy had is no real loss: cross-document
    # duplicate windows rarely co-locate in a map partition, so partial
    # aggregation collapsed almost nothing.
    cand = (
        w.withColumn(
            "__c",
            F.count(F.lit(1)).over(Window.partitionBy("__w1", "__w2")),
        )
        .where(F.col("__c") > 1)
        .drop("__c")
    )
    # Regroup candidates on actual window content (md5 of the
    # token slice) — array-local, only over docs holding
    # candidates.  This removes the rolling hash from the trust
    # base entirely.
    per_doc = cand.groupBy(id_col).agg(F.collect_list("__s").alias("__ss"))
    ver = (
        docs.join(per_doc, id_col)
        .select(
            id_col,
            F.explode(
                F.transform(
                    "__ss",
                    lambda s: F.struct(
                        s.alias("__s"),
                        F.md5(
                            F.concat_ws(
                                " ", F.slice(F.col("__tk"), s + 1, L)
                            )
                        ).alias("__h"),
                    ),
                )
            ).alias("__v"),
        )
        .select(id_col, F.col("__v.__s").alias("__s"), F.col("__v.__h").alias("__h"))
    )
    # Keep-first as a window min over the key instead of
    # groupBy-then-join-back (r17): one pass over the candidate rows,
    # one exchange — which also makes `ver` single-reference, so the
    # r15 bounded persist (one cached block set per call, freed only at
    # session end) is gone entirely.
    dup = (
        ver.withColumn(
            "__f",
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("__s").alias("s"))
            ).over(Window.partitionBy("__h")),
        )
        .where(
            ~(
                (F.col(id_col) == F.col("__f.d"))
                & (F.col("__s") == F.col("__f.s"))
            )
        )
        .drop("__f")
    )
    return _remove_covered_windows(docs, dup, id_col, L)


def _window_hash_frame(
    docs: DataFrame,
    id_col: str,
    idt: str,
    L: int,
    hash: str,
    mods: int,
    dual_stream: bool = False,
    rk=None,
) -> DataFrame:
    """``(id, __s, __w1..__w{mods})`` — one row per L-token window of
    every document, hashes from the O(n) rolling kernel.  Token hashing
    stays JVM-side; only the linear recurrence runs in numpy.

    ``dual_stream`` (requires ``mods == 4``) feeds moduli 1-2 from
    :func:`_hash64` and moduli 3-4 from the independent
    :func:`_hash64b` slice, so a single-token substitution must collide
    BOTH 60-bit token hashes (~2^-120) to alias a window — the batch
    operator doesn't need this (content-verify stage), the incremental
    store does (the hash IS the cross-batch identity)."""
    import pandas as pd

    if dual_stream and mods != 4:
        raise ValueError("dual_stream requires mods=4")
    if dual_stream and hash == "md5":
        # Both 60-bit streams slice ONE digest — hash each token once,
        # not once per stream (md5 per token is this stage's dominant
        # cost; two separate _hash64/_hash64b transforms would evaluate
        # md5 twice per token).
        md = docs.select(
            id_col, F.transform("__tk", lambda t: F.md5(t)).alias("__md")
        )
        hashed = md.select(
            id_col,
            F.transform(
                "__md",
                lambda m: F.conv(F.substring(m, 1, 15), 16, 10).cast(
                    "long"
                ),
            ).alias("__th"),
            F.transform(
                "__md",
                lambda m: F.conv(F.substring(m, 16, 15), 16, 10).cast(
                    "long"
                ),
            ).alias("__th2"),
        )
    else:
        cols = [
            F.transform("__tk", lambda t: _hash64(t, hash)).alias("__th")
        ]
        if dual_stream:
            cols.append(
                F.transform("__tk", lambda t: _hash64b(t, hash)).alias(
                    "__th2"
                )
            )
        hashed = docs.select(id_col, *cols)
    wcols = [f"__w{m + 1}" for m in range(mods)]

    def window_hashes(batches):
        import numpy as np

        for pdf in batches:
            ids, starts = [], []
            ws: list[list] = [[] for _ in range(mods)]
            th2s = pdf["__th2"] if dual_stream else pdf["__th"]
            for i, th, th2 in zip(pdf[id_col], pdf["__th"], th2s):
                if dual_stream:
                    hs = _rolling_window_hashes(
                        np.asarray(th), L, mods=2, rk=rk
                    ) + _rolling_window_hashes(
                        np.asarray(th2), L, mods=2, first=2, rk=rk
                    )
                else:
                    hs = _rolling_window_hashes(
                        np.asarray(th), L, mods=mods, rk=rk
                    )
                if len(hs[0]):
                    ids.append(np.full(len(hs[0]), i))
                    starts.append(np.arange(len(hs[0]), dtype=np.int32))
                    for m in range(mods):
                        ws[m].append(hs[m])
            if ids:
                out = {
                    id_col: np.concatenate(ids),
                    "__s": np.concatenate(starts),
                }
                for m, c in enumerate(wcols):
                    out[c] = np.concatenate(ws[m])
                yield pd.DataFrame(out)

    schema = f"`{id_col}` {idt}, __s int, " + ", ".join(
        f"{c} long" for c in wcols
    )
    return hashed.mapInPandas(window_hashes, schema)


def _remove_covered_windows(
    docs: DataFrame, covered: DataFrame, id_col: str, L: int
) -> DataFrame:
    """Reassembly tail shared by the batch and incremental ExactSubstr
    faces: every ``(id, __s)`` row of ``covered`` deletes tokens
    ``[__s, __s + L)``; documents rebuild from survivors (fully-covered
    docs disappear)."""
    cover = covered.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("__s"), F.col("__s") + L - 1)).alias("pos"),
    ).distinct()
    tokpos = docs.select(id_col, F.posexplode("__tk").alias("pos", "tok"))
    kept = tokpos.join(cover, [id_col, "pos"], "left_anti")
    ordered = F.array_sort(F.collect_list(F.struct("pos", "tok")))
    return kept.groupBy(id_col).agg(
        F.concat_ws(" ", F.transform(ordered, lambda s: s["tok"])).alias(
            "clean_text"
        ),
        F.count(F.lit(1)).alias("n_kept"),
    )


def incremental_exact_substr(
    new_docs: DataFrame,
    store: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_length: int = 32,
    hash: str = "md5",
    with_cleanup: bool = False,
    return_delta: bool = False,
    check_geometry: bool = True,
) -> "tuple[DataFrame, DataFrame]":
    """ExactSubstr dedup of a NEW batch against the accumulated corpus —
    the incremental face of :func:`exact_substr_dedup`, completing the
    exact/MinHash/embedding/image/inference incremental-store family.

    ``with_cleanup=True`` returns ``(clean, updated_store, cleanup)``
    where ``cleanup()`` drops the internally-persisted window frame —
    the ``_incremental_store_sink`` contract, so a STREAMING caller
    doesn't pin one batch-scale cache per micro-batch for the stream's
    lifetime.  Batch callers (two calls per catalog row) keep the
    2-tuple and the bounded persist.

    ``return_delta=True`` returns the batch's NEW store rows alone in
    the second position instead of ``store ∪ new`` — the store is
    strictly append-only, so a sink publishing delta segments
    (``_incremental_store_sink(append_only=True)``) needs only the
    delta and turns its per-batch store write from O(total store) to
    O(batch).  ``check_geometry=False`` skips the store's wL/h marker
    scan (O(store rows) on two pruned columns): a long-lived streaming
    caller verifies the geometry on the FIRST batch and skips it after,
    since every later version was written by the same sink under the
    same geometry (the semantic sink's check_geometry contract).

    The store holds one row per DISTINCT window seen so far:
    ``(__w1..__w4, first_id, first_s, wL, h)`` — a quad-modulus rolling
    hash over TWO independent 60-bit token-hash streams (moduli 1-2 on
    md5 nibbles 1-15, moduli 3-4 on nibbles 16-30) is the window's
    identity, because cross-batch content verification would require
    storing window TEXT.  The second stream matters: over one stream,
    CRT makes a single-token substitution collide on all four moduli
    iff the two tokens' single 60-bit hashes are equal — ~60-bit
    identity no matter how many moduli stack (r14 advisor finding).
    With two streams, single-token identity is ~120 bits and generic
    window identity ~124 bits, so at 1e13 windows (100 TB scale)
    expected birthday collisions are ~5e-12.  The ``wL``/``h`` geometry
    markers (``h`` carries the ``/ds2`` scheme tag) refuse a store
    built with a different window length, token-hash fn or the
    pre-dual-stream identity (the band_store rule).  Within the batch
    the semantics equal the batch operator's: keep-first by
    ``(doc, start)``.

    Returns ``(clean, updated_store)``: ``clean`` is the batch with
    every token covered by an already-seen window (store hit) or a
    non-first in-batch duplicate window removed; ``updated_store``
    appends the batch's new first occurrences.  When batches arrive in
    ascending id order, concatenating every batch's ``clean`` equals
    :func:`exact_substr_dedup` over the union (property-tested).

    Plan shape: window hashing rides the batch scan (O(n) numpy
    kernel); the store meets the batch through one equi-join on the
    hash quad — bucket the store on ``__w1`` and the store side never
    shuffles (SCALING.md batch 8); everything downstream is bounded by
    batch size + duplicate volume."""
    if min_length < 1:
        raise ValueError(f"min_length must be >= 1, got {min_length}")
    _check_hash(hash)
    L = min_length
    docs = new_docs.select(
        F.col(id_col),
        F.split(F.coalesce(F.col(text_col), F.lit("")), r" ").alias("__tk"),
    )
    idt = dict(docs.dtypes)[id_col]
    keys = ["__w1", "__w2", "__w3", "__w4"]
    # The window frame feeds the store join, the in-batch grouping AND
    # the new-firsts projection — batch-scale rows, persist once.
    scheme = hash + "/ds2"  # identity-scheme tag: dual-stream quad-mod
    w = _window_hash_frame(
        docs, id_col, idt, L, hash, mods=4, dual_stream=True
    ).persist()
    if store is not None:
        missing = set(keys + ["first_id", "first_s", "wL", "h"]) - set(
            store.columns
        )
        if missing:
            raise ValueError(
                f"incremental_exact_substr: store is missing columns "
                f"{sorted(missing)} (expected an incremental_exact_substr"
                " store)"
            )
        if check_geometry:
            markers = sorted(
                (r["wL"], r["h"] if r["h"] is not None else "<null>")
                for r in store.select("wL", "h").distinct().collect()
            )
            if any(m != (L, scheme) for m in markers):
                raise ValueError(
                    f"incremental_exact_substr: store carries geometry "
                    f"markers {markers} but the batch uses ({L}, "
                    f"{scheme!r}) — window identities would never match "
                    "(a marker without '/ds2' is a pre-dual-stream "
                    "store); rebuild one side"
                )
        store_keys = store.select(*keys)
        hits = w.join(store_keys, keys, "left_semi")
        fresh_w = w.join(store_keys, keys, "left_anti")
    else:
        hits = w.where(F.lit(False))
        fresh_w = w
    # Keep-first as a window min (r17, the exact_substr_dedup rewrite):
    # `marked` carries the per-key first occurrence on every row, so
    # the in-batch duplicates AND the new store rows both read from ONE
    # exchange of the (persisted) window frame — previously a groupBy
    # plus a join-back, i.e. two more shuffles of the frame per action.
    # (id, __s) is unique within a key group (one row per window
    # occurrence), so "row == min struct" selects exactly one row per
    # key — the same row the old aggregate returned.
    __is_first = (F.col(id_col) == F.col("__f.d")) & (
        F.col("__s") == F.col("__f.s")
    )
    marked = fresh_w.withColumn(
        "__f",
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("__s").alias("s"))
        ).over(Window.partitionBy(*keys)),
    )
    dup_in_batch = marked.where(~__is_first)
    covered = hits.select(id_col, "__s").unionByName(
        dup_in_batch.select(id_col, "__s")
    )
    clean = _remove_covered_windows(docs, covered, id_col, L)
    new_rows = marked.where(__is_first).select(
        *keys,
        F.col(id_col).alias("first_id"),
        F.col("__s").alias("first_s"),
        F.lit(L).alias("wL"),
        F.lit(scheme).alias("h"),
    )
    updated_store = (
        new_rows
        if (store is None or return_delta)
        else store.unionByName(new_rows)
    )
    if with_cleanup:
        return clean, updated_store, lambda: w.unpersist()
    return clean, updated_store


def chunk_level_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
) -> DataFrame:
    """Passage-level dedup (the C4-style cleanup): split every document
    into non-overlapping token windows, drop every window whose exact
    content already appeared earlier in the corpus (first occurrence by
    ``(doc_id, chunk_id)`` wins), and reassemble the surviving windows
    in order.  Documents reduced to nothing disappear.

    Scale shape: chunking is the no-shuffle explode
    (:func:`~metalpipe_spark.operators.text.chunk_documents`); first
    occurrence is a groupBy-min on the chunk md5 (even key, map-side
    combined) joined back chunk-co-located; reassembly is one
    groupBy(doc) whose state is bounded by document size.
    """
    from metalpipe_spark.operators.text import chunk_documents

    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"chunk_level_dedup packs ({id_col}, chunk_id) into one int64 "
            f"and needs an integral id column, got {id_type}; map string "
            "ids to a surrogate integer first"
        )
    chunks = chunk_documents(
        df, text_col=text_col, id_col=id_col,
        chunk_tokens=chunk_tokens, overlap=0,
    )
    # Lexicographic (doc, chunk) order packed into one int64 so the
    # groupBy stays a single codegen MIN.  Packing needs 0 <= id < 2^43
    # and chunk_id < 2^20 (~33M tokens/doc at 32-token chunks);
    # assert_true turns a silent key collision into a loud error.
    bounds_ok = (
        (F.col(id_col) >= 0)
        & (F.col(id_col) < F.lit(1 << 43))
        & (F.col("chunk_id") < F.lit(1 << 20))
    )
    # the guard lives INSIDE the key expression — a separate assert
    # column would be pruned away by the optimizer
    arg = F.when(
        bounds_ok, F.col(id_col) * F.lit(1 << 20) + F.col("chunk_id")
    ).otherwise(
        F.raise_error(F.lit("chunk_level_dedup: id/chunk out of packable range"))
    )
    keyed = chunks.select(
        F.col(id_col), "chunk_id", "chunk_text",
        F.md5("chunk_text").alias("__fp"), arg.alias("__arg"),
    )
    first = keyed.groupBy("__fp").agg(F.min("__arg").alias("__keep"))
    kept = keyed.join(first, "__fp").where(F.col("__arg") == F.col("__keep"))
    return _reassemble_chunks(kept, id_col, text_col)


def _reassemble_chunks(kept: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Rebuild ``(id, text)`` documents from surviving ``(id, chunk_id,
    chunk_text)`` rows — one groupBy(doc) whose state is bounded by
    document size; chunk order restored by an in-memory array_sort, so
    no per-document window/sort shuffle."""
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias(text_col)
        )
    )


def boilerplate_chunk_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    min_df: int = 3,
) -> DataFrame:
    """Corpus-frequency boilerplate stripping (the CCNet/RefinedWeb
    cleanup stage): split documents into non-overlapping token windows,
    drop EVERY occurrence of any window whose exact content appears in
    at least ``min_df`` distinct documents (headers, footers, cookie
    banners, licence blurbs), and reassemble the survivors in order.
    Documents reduced to nothing disappear.

    Differs from :func:`chunk_level_dedup` in the removal rule: there
    the first corpus occurrence survives (dedup); here no occurrence
    does (boilerplate is noise wherever it appears), and windows below
    the document-frequency bar are kept even when duplicated.

    Scale shape: chunking is the no-shuffle explode; document frequency
    is ``count(DISTINCT id)`` per chunk md5 — Catalyst expands it to a
    two-stage aggregate (distinct pairs, then count) with map-side
    partials on an even md5 key; the verdict joins back fp-co-located
    (one shuffle reused); reassembly state is bounded by document size.
    No step holds more than (fp, id) pairs — payload bytes shuffle only
    in the final reassembly of surviving text.
    """
    from metalpipe_spark.operators.text import chunk_documents

    # NULL text behaves as empty (the repo's NULL-text contract,
    # catalog/dedup.py): without the coalesce, chunk_documents emits a
    # NULL chunk_text/NULL md5 and the inner join on __fp silently
    # DROPS the document, diverging from the oracle's coalesce-keep.
    df = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    chunks = chunk_documents(
        df, text_col=text_col, id_col=id_col,
        chunk_tokens=chunk_tokens, overlap=0,
    ).select(
        id_col, "chunk_id", "chunk_text", F.md5("chunk_text").alias("__fp")
    )
    freq = chunks.groupBy("__fp").agg(
        F.countDistinct(id_col).alias("__df")
    ).where(F.col("__df") < min_df).select("__fp")
    kept = chunks.join(freq, "__fp")
    return _reassemble_chunks(kept, id_col, text_col)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: flag corpus documents sharing at least
    ``min_shared`` distinct word n-grams with ANY benchmark document,
    and return ``(clean_corpus, contamination_report)``.  The report
    has one row per contaminated (corpus doc, benchmark doc) pair with
    the shared-shingle count.

    Scale shape: the benchmark (eval sets are small by definition) is
    exploded to a distinct shingle index and BROADCAST — corpus-side
    work is a map-side hash-join probe per shingle, no corpus shuffle
    for candidate generation; only the per-pair count aggregates.
    """
    c_sh = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
    b_sh = benchmark.select(
        F.col(id_col).alias("benchmark_id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
    report = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy("corpus_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .where(F.col("shared_shingles") >= min_shared)
    )
    contaminated = report.select(
        F.col("corpus_id").alias(id_col)
    ).distinct()
    clean = corpus.join(contaminated, id_col, "left_anti")
    return clean, report


def band_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    signatures: DataFrame | None = None,
    hash: str = "md5",
) -> DataFrame:
    """The persistable LSH state for incremental near-dup dedup: one
    ``(band_key, doc_id, minhash, h)`` row per band per document — ``h``
    is the hash fn the signatures were built with (the bloom/count-min
    mismatch-proofing: a store hashed one way must never silently join
    a batch hashed the other).  At warehouse scale write it bucketed on
    ``band_key`` so every future batch joins co-located.  ``signatures``
    skips the shingle→minhash pipeline when a prebuilt signature table
    exists (shared-stage consumers) — its stamped provenance (the
    ``mp.hash`` column metadata :func:`minhash_signatures` writes) is
    what the marker records, NOT the ``hash`` parameter: a caller who
    built signatures with xxhash64 but left ``hash='md5'`` would
    otherwise poison the persisted store's marker and defeat the
    mismatch-proofing downstream.  A signature table without the stamp
    (externally built) falls back to the parameter, which then must
    name the fn truthfully."""
    _check_hash(hash)
    if signatures is not None:
        stamped = signatures.schema["minhash"].metadata.get("mp.hash")
        sigs, marker = signatures, (stamped or hash)
    else:
        sigs = minhash_signatures(df, text_col, id_col, n, num_hashes, hash)
        marker = hash
    return _banded_signatures(sigs, id_col, num_hashes, bands).withColumn(
        "h", F.lit(marker)
    )


def incremental_neardup_dedup(
    new_docs: DataFrame,
    store: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    signatures: DataFrame | None = None,
    hash: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """Near-dup dedup of a NEW batch against the accumulated corpus —
    the incremental twin of :func:`minhash_lsh_pairs`: batch signatures
    band-join the store (co-located when the store is bucketed on
    ``band_key``), candidates sharing a band verify by estimated
    Jaccard, and matched new docs are dropped.  In-batch near-dups
    resolve by connected components first (lowest id survives).

    Returns ``(fresh, updated_store)``; the store grows only by the
    surviving docs, so contested future batches dedup against
    canonical survivors, never against already-dropped text.

    Semantics note (inherent to ANY incremental near-dedup): a
    transitive chain spanning batches — A≈B in batch 1+2, B≈C in 2+3,
    A≉C — keeps {A, C} here (C only meets the surviving A), while a
    full-corpus connected-components pass keeps {A} alone.  The
    incremental answer is the one production systems ship: membership
    is decided against surviving canonicals at arrival time.

    ``signatures`` (a prebuilt ``(id, minhash)`` table for the NEW batch
    only) skips the batch's shingle→minhash pipeline — when the session
    already materialized corpus-wide signatures, filtering them to the
    batch ids and passing them here plans the signature work zero
    additional times."""
    batch_bands = band_store(
        new_docs, text_col, id_col, n, num_hashes, bands,
        signatures=signatures, hash=hash,
    )
    # The batch's EFFECTIVE hash: stamped signature provenance wins over
    # the parameter (band_store's rule) — the guard below must compare
    # the store against what the batch actually hashed with.
    batch_hash = hash
    if signatures is not None:
        batch_hash = signatures.schema["minhash"].metadata.get(
            "mp.hash", hash
        )
    if store is not None:
        # Hash-provenance guard (the bloom/count-min rule, enforced for
        # the PERSISTED store): a batch hashed differently from the
        # store produces disjoint band keys and silently dedups against
        # nothing.  Pre-knob stores carry no marker and were md5 by
        # definition.  DISTINCT markers (the hll_merge_registers
        # pattern), not first(): a store holding mixed h values (two
        # stores hand-unioned) must fail for the mismatched fraction,
        # not pass on whichever row first() happened to read; the
        # distinct on a ≤2-value column is map-side-combined and
        # bounded.
        if "h" in store.columns:
            markers = sorted(
                r["h"] if r["h"] is not None else "<null>"
                for r in store.select("h").distinct().collect()
            )
            if any(m != batch_hash for m in markers):
                raise ValueError(
                    f"incremental_neardup_dedup: store carries hash "
                    f"markers {markers} but the batch uses "
                    f"{batch_hash!r} — band keys would never match for "
                    "the mismatched fraction; rebuild one side"
                )
        else:
            if batch_hash != "md5":
                raise ValueError(
                    "incremental_neardup_dedup: pre-knob store (no `h` "
                    f"column) was built with md5 but the batch uses "
                    f"{batch_hash!r}; rebuild the store or drop the knob"
                )
            batch_bands = batch_bands.drop("h")  # keep the old schema
    # in-batch near-dups -> keep component minimum; pairs derive from the
    # SAME band table every other stage uses (one signature pipeline).
    in_pairs = _pairs_from_bands(batch_bands, id_col, num_hashes).where(
        F.col("est_jaccard") >= threshold
    )
    survivors = dedup_corpus(new_docs, in_pairs, id_col=id_col)
    surv_bands = batch_bands.join(
        survivors.select(id_col), id_col, "left_semi"
    )
    if store is not None:
        a = surv_bands.alias("a")
        b = store.alias("b")
        est = F.size(
            F.filter(F.zip_with("a.minhash", "b.minhash", lambda x, y: x == y), lambda e: e)
        ).cast("double") / F.lit(num_hashes).cast("double")
        hits = (
            a.join(b, F.col("a.band_key") == F.col("b.band_key"))
            .where(est >= threshold)
            .select(F.col(f"a.{id_col}").alias(id_col))
            .distinct()
        )
        survivors = survivors.join(hits, id_col, "left_anti")
        surv_bands = surv_bands.join(hits, id_col, "left_anti")
    updated = surv_bands if store is None else store.unionByName(surv_bands)
    return survivors, updated


def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate overlap BETWEEN corpus sources — the curation
    diagnostic behind "how much of crawl B re-scrapes corpus A":
    thresholded MinHash-LSH pairs are labeled with each side's
    ``group_col`` and counted per unordered source pair.

    Output ``(source_a, source_b, n_pairs)`` with
    ``source_a <= source_b``; the diagonal rows are within-source
    duplication, off-diagonal rows cross-source contamination.

    Scale shape: candidate pairs come from the band-bucket join (never
    all-pairs), and the label join touches only PAIR ids — two hash
    joins on a relation that is orders of magnitude smaller than the
    corpus — before a few-row groupBy.
    """
    pairs = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        n,
        num_hashes,
        bands,
        signatures=signatures,
    ).where(F.col("est_jaccard") >= threshold)
    labels = df.select(F.col(id_col), F.col(group_col))
    l1 = labels.select(
        F.col(id_col).alias("d1"), F.col(group_col).alias("s1")
    )
    l2 = labels.select(
        F.col(id_col).alias("d2"), F.col(group_col).alias("s2")
    )
    return (
        pairs.join(l1, "d1")
        .join(l2, "d2")
        .select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def tune_lsh_bands(
    threshold: float,
    num_hashes: int,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Pick ``(bands, rows_per_band)`` for :func:`minhash_lsh_pairs`
    targeting a Jaccard ``threshold`` — the standard S-curve
    optimization (Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets §3.4; the same procedure datasketch ships): the
    probability a pair of similarity ``s`` collides in some band is
    ``P(s) = 1 - (1 - s^r)^b``; choose the divisor pair (b, r) with
    ``b*r = num_hashes`` minimizing the weighted false-positive area
    (integral of P below the threshold) plus false-negative area
    (integral of 1-P above it).

    Pure driver-side arithmetic over the O(divisors) candidates —
    call once when configuring a dedup job, pass the result to the
    operator.  Raising ``fp_weight`` biases toward fewer, wider bands
    (fewer spurious candidates to verify); raising ``fn_weight``
    toward more, narrower bands (recall)."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")

    def areas(b: int, r: int, steps: int = 1000) -> tuple[float, float]:
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        return fp / steps, fn / steps

    best, best_err = None, None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        fp, fn = areas(b, r)
        err = fp_weight * fp + fn_weight * fn
        if best_err is None or err < best_err:
            best, best_err = (b, r), err
    return best
