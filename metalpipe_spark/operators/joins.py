"""Join operators (SURVEY.md §2.5).

The reference's only real join is the ``retain_input`` merge — every
output record carries its upstream keys (node_queue/queue.py:91-102) —
plus a stubbed windowed StreamingJoin (node.py:1528-1552).  Spark picks
the physical strategy (broadcast / shuffled-hash / sort-merge); the
engine's job is to declare join type and keys and to *hint* broadcast for
dimension tables so a 100 TB fact scan never shuffles on a 25-row dim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from metalpipe_spark.materialize import materialize


def enrich_join(
    fact: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
    broadcast_dim: bool = True,
    prefer_existing_value: bool = False,
) -> DataFrame:
    """retain_input-style enrichment join (queue.py:91-102).

    The fact side keeps all its columns; the dim side contributes its
    non-key columns.  On a name clash the dim (new) value wins unless
    ``prefer_existing_value`` — the reference's merge precedence
    (node.py:205-207).  ``broadcast_dim`` marks the dim for a broadcast
    hash join, eliminating the fact-side shuffle.
    """
    join_keys = [on] if isinstance(on, str) else list(on)
    dim_side = F.broadcast(dim) if broadcast_dim else dim
    clashes = [c for c in dim.columns if c in fact.columns and c not in join_keys]
    if prefer_existing_value:
        dim_side = dim_side.drop(*clashes)
        return fact.join(dim_side, on=join_keys, how=how)
    norm = how.lower().replace("_", "")
    if norm in ("leftsemi", "semi", "leftanti", "anti"):
        # Semi/anti output carries ONLY fact columns — the dim contributes
        # nothing, so there is no clash to merge and nothing to drop.
        return fact.join(dim_side, on=join_keys, how=how)
    if how == "inner" or not clashes:
        fact = fact.drop(*clashes)
        return fact.join(dim_side, on=join_keys, how=how)
    # Non-inner joins must RETAIN the fact's value when no dim row
    # matches (the reference's merge only overrides when a new value
    # arrives) — dropping the fact column pre-join would NULL it for
    # every unmatched row.  The merge keys on a non-null dim-side match
    # MARKER, not per-column coalesce: a matched dim row with a NULL
    # clash value still overrides (the reference's dict-update — an
    # arriving None wins, node.py:205-207), so one output row never
    # pairs fields from two different source rows.
    fact_a = fact.alias("__f")
    dim_a = dim_side.withColumn("__dim_matched", F.lit(True)).alias("__d")
    matched = F.col("__d.__dim_matched").isNotNull()
    joined = fact_a.join(dim_a, on=join_keys, how=how)
    merged = [
        # USING-join keys come out pre-coalesced across sides, so
        # dim-only rows of a right/full join keep the dim's key.
        F.col(c)
        if c in join_keys
        else (
            F.when(matched, F.col(f"__d.{c}")).otherwise(F.col(f"__f.{c}")).alias(c)
            if c in clashes
            else F.col(f"__f.{c}")
        )
        for c in fact.columns
    ] + [
        F.col(f"__d.{c}")
        for c in dim.columns
        if c not in clashes and c not in join_keys
    ]
    return joined.select(*merged)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join: for each left row, attach the value columns of
    the most recent right row with the same key and ``right_ts <=
    left_ts`` (NULLs when no such row exists — left-join semantics).

    Spark has no ASOF JOIN operator; the naive range-join formulation is
    O(n*m) per key.  This is the scalable union-window shape instead: tag
    both sides, union, and run one ``last(..., ignorenulls)`` window per
    value column ordered by (ts, side).  Cost = ONE shuffle on the key +
    a per-partition sort — the same plan a 1000-executor cluster wants,
    with no skew beyond the key's own distribution and no broadcast of
    either side.  Ties (equal ts on both sides) match, as in DuckDB's
    ``ASOF JOIN ... ON l.ts >= r.ts``: the right row sorts first.
    """
    from pyspark.sql.types import StructField, StructType

    value_cols = list(value_cols or [c for c in right.columns if c not in (on, right_ts)])
    # The matched right timestamp is part of the result (callers need to
    # know *when* the as-of match happened), so it rides along as a value.
    carried = [right_ts] + value_cols
    tagged_vals = [f"{prefix}{c}" for c in carried]

    # The carried columns travel as ONE struct, so the window picks the
    # most recent right ROW atomically.  Per-column last(ignorenulls)
    # would mix rows: a NULL value in the true as-of match gets silently
    # replaced by an OLDER row's value, pairing (ts, value) that never
    # co-occurred.  The struct is non-null exactly when a right row
    # exists (a struct with NULL fields is still non-null), which is the
    # only "was there a match" signal ignorenulls should see.
    row_type = StructType(
        [StructField(c, right.schema[c].dataType, True) for c in carried]
    )
    lhs = left.withColumn("__side", F.lit(1)).withColumn(
        "__asof", F.lit(None).cast(row_type)
    )
    # ASOF semantics: right_ts <= left_ts is never true for NULL ts, and
    # NULL keys never equal anything — both classes of right rows must
    # not contribute (a NULL ts would sort FIRST and leak into every
    # left row; NULL keys would pair with NULL-key left rows).
    rhs = (
        right.where(F.col(right_ts).isNotNull() & F.col(on).isNotNull())
        .select(
            F.col(on),
            F.col(right_ts).alias(left_ts),
            F.lit(0).alias("__side"),
            F.struct(*[F.col(c) for c in carried]).alias("__asof"),
        )
    )
    merged = lhs.unionByName(rhs, allowMissingColumns=True)

    w = (
        Window.partitionBy(on)
        .orderBy(F.col(left_ts).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = merged.withColumn("__asof", F.last("__asof", ignorenulls=True).over(w))
    out = merged.filter(F.col("__side") == 1)
    for c, t in zip(carried, tagged_vals):
        out = out.withColumn(t, F.col("__asof")[c])
    return out.drop("__side", "__asof")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    keys: list[str] | str | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Point-in-interval join (inclusive start, EXCLUSIVE end) without
    the O(points x intervals) theta join Spark would otherwise plan
    (BroadcastNestedLoopJoin — a nonstarter at corpus scale): both
    sides bucketize time into ``bucket_seconds`` cells, intervals
    EXPLODE to every bucket they overlap, points map to their single
    bucket, and the match becomes an equi-join on (keys..., bucket)
    followed by one codegen boundary check.  Because a point lives in
    exactly one bucket, each (point, interval) pair meets at most once
    — no dedup pass.

    Output: every matching (point row, interval row) pair, both sides'
    columns (clashes suffixed ``_r``).  Scale shape: interval-side
    replication is span/bucket_seconds rows per interval — size
    ``bucket_seconds`` near the TYPICAL interval span so replication
    stays O(1) per interval while buckets stay selective; skewed keys
    ride the same AQE machinery as any equi-join.  Timestamps compare
    at microsecond precision (``unix_micros``)."""
    keys = [keys] if isinstance(keys, str) else list(keys or [])
    bw = F.lit(int(bucket_seconds) * 1_000_000)
    p_us = F.unix_micros(F.col(point_col))
    clashes = [
        c for c in intervals.columns if c in points.columns and c not in keys
    ]
    renamed = intervals
    for c in clashes:
        renamed = renamed.withColumnRenamed(c, f"{c}_r")
    start_r = f"{start_col}_r" if start_col in clashes else start_col
    end_r = f"{end_col}_r" if end_col in clashes else end_col
    s_us_r = F.unix_micros(F.col(start_r))
    e_us_r = F.unix_micros(F.col(end_r))
    banded = (
        renamed.where(e_us_r > s_us_r)  # empty intervals match nothing
        .withColumn(
            "__bk",
            F.explode(
                F.sequence(
                    F.floor(s_us_r / bw), F.floor((e_us_r - 1) / bw)
                )
            ),
        )
    )
    pointed = points.withColumn("__bk", F.floor(p_us / bw))
    out = pointed.join(banded, [*keys, "__bk"]).where(
        (p_us >= s_us_r) & (p_us < e_us_r)
    )
    return out.drop("__bk")


def _deletion_variants(col, max_edits: int):
    """All strings reachable from ``col`` by deleting up to
    ``max_edits`` characters (the string itself included) — the
    SymSpell symmetric-delete neighborhood, generated as pure JVM HOFs
    (one transform+flatten round per edit, array_distinct between
    rounds).  Size is O(len^k) per string: meant for SHORT keys (names,
    titles, words), which is the fuzzy-join regime."""
    out = F.array(col)
    for _ in range(max_edits):
        expand = F.transform(
            out,
            lambda v: F.when(F.length(v) == 0, F.array(v)).otherwise(
                F.concat(
                    F.array(v),
                    F.transform(
                        F.sequence(F.lit(1), F.length(v)),
                        lambda i: F.concat(
                            F.substring(v, F.lit(1), i - 1),
                            F.substring(v, i + 1, F.length(v)),
                        ),
                    ),
                )
            ),
        )
        out = F.array_distinct(F.flatten(expand))
    return out


def edit_distance_join(
    df: DataFrame,
    col: str,
    id_col: str = "doc_id",
    max_edits: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Fuzzy self-join: every pair of rows whose ``col`` values are
    within Levenshtein distance ``max_edits`` — ``(id1, id2, s1, s2,
    dist)`` with ``id1 < id2`` — the entity-resolution primitive
    (name/title matching) done EXACTLY but never all-pairs:

    1. each string explodes into its symmetric-delete neighborhood
       (every ≤ ``max_edits``-deletion variant; SymSpell's guarantee:
       ``lev(a, b) <= k`` implies the depth-k neighborhoods intersect,
       so blocking on shared variants misses NO qualifying pair);
    2. candidates meet inside variant buckets (equi-join, the
       minhash-band shape — pairs are generated only where a shared
       variant exists);
    3. one codegen ``levenshtein`` verifies each candidate exactly.

    ``max_bucket_size`` is the production knob for ultra-hot variant
    buckets (very short strings deleting into shared stubs): buckets
    larger than the cap are skipped, which can drop pairs among those
    hot keys — leave ``None`` (default) for the exact join.  Substring
    HOF work is O(len^k) per row: this operator targets short keys;
    for document-scale near-dup use the minhash/simhash family.

    The exploded variant table is lazily local-checkpointed before the
    self-join (materialized at the first action, nothing pinned for the
    session): the table is referenced from 2 subtrees (4 with
    ``max_bucket_size``) and Catalyst replays un-exchanged subtrees per
    reference, so without it the O(len^k) neighborhood expansion AND
    the caller's whole upstream (typically a corpus tokenize+distinct)
    execute once per side (as for the hamming engine's codes).  State is
    key-scale ``(id, s, variant)`` rows — names/tokens, never document
    payloads — and ContextCleaner drops it with the plan."""
    if max_edits < 1:
        raise ValueError(f"max_edits must be >= 1, got {max_edits}")
    s = F.col(col)
    variants = materialize(
        df.where(s.isNotNull()).select(
            F.col(id_col).alias("__id"),
            s.alias("__s"),
            F.explode(_deletion_variants(s, max_edits)).alias("__v"),
        )
    )
    if max_bucket_size is not None:
        counts = variants.groupBy("__v").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        variants = variants.join(
            counts.where(F.col("__bn") <= max_bucket_size).select("__v"),
            "__v",
        )
    left = variants.select(
        F.col("__v"),
        F.col("__id").alias("id1"),
        F.col("__s").alias("s1"),
    )
    right = variants.select(
        F.col("__v"),
        F.col("__id").alias("id2"),
        F.col("__s").alias("s2"),
    )
    cand = (
        left.join(right, "__v")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "s1", "s2")
        .distinct()
    )
    dist = F.levenshtein("s1", "s2")
    return cand.where(dist <= max_edits).select(
        "id1", "id2", "s1", "s2", dist.alias("dist")
    )
