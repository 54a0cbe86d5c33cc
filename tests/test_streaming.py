"""Streaming tests: file source, windows, stream-stream join, streaming
dedup, foreachBatch — run with availableNow triggers so they complete
deterministically (SURVEY.md §2.11)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from metalpipe_spark.sources.readers import load_table
from metalpipe_spark.streaming import streams
from metalpipe_spark.streaming.streams import (
    deduplicate_stream,
    file_watchdog,
    foreach_batch_sink,
    run_to_memory,
    sliding_window,
    streaming_join,
    tumbling_window,
)
from tests.conftest import SF_SMOKE


def _qname() -> str:
    return "mq_" + uuid.uuid4().hex[:8]


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """The events table rewritten as a multi-file parquet directory, as a
    file-watchdog source would see it accumulate."""
    d = tmp_path_factory.mktemp("events_stream")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "events"))
    schema = ev.schema
    return str(d / "events"), schema, ev


def test_file_watchdog_reads_all(spark, events_dir):
    path, schema, ev = events_dir
    stream = file_watchdog(spark, path, schema)
    assert stream.isStreaming
    out = run_to_memory(stream, _qname(), spark)
    assert out.count() == ev.count()


def test_tumbling_window_counts(spark, events_dir):
    path, schema, ev = events_dir
    stream = file_watchdog(spark, path, schema)
    agg = tumbling_window(
        stream, "ts", "1 day", [F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")]
    )
    # append mode withholds the last (not-yet-closed-by-watermark) window;
    # complete mode emits the full state for the finite backfill.
    out = run_to_memory(agg, _qname(), spark, output_mode="complete")
    # Batch equivalent of the same window.
    want = (
        ev.groupBy(F.window("ts", "1 day").alias("window"))
        .agg(F.count(F.lit(1)).alias("n"))
        .count()
    )
    assert out.count() == want
    assert out.agg(F.sum("n")).head()[0] == ev.count()


def test_sliding_window(spark, events_dir):
    path, schema, ev = events_dir
    stream = file_watchdog(spark, path, schema)
    agg = sliding_window(stream, "ts", "2 days", "1 day", [F.count(F.lit(1)).alias("n")])
    out = run_to_memory(agg, _qname(), spark, output_mode="complete")
    # Every event lands in exactly 2 sliding windows.
    assert out.agg(F.sum("n")).head()[0] == 2 * ev.count()


def test_streaming_join_matches_batch(spark, events_dir):
    path, schema, ev = events_dir
    purchases = file_watchdog(spark, path, schema).filter(F.col("event_type") == "purchase")
    signups = (
        file_watchdog(spark, path, schema)
        .filter(F.col("event_type") == "signup")
        .select(F.col("user_id"), F.col("ts").alias("signup_ts"))
    )
    joined = streaming_join(
        purchases, signups, on="user_id", left_ts="ts", right_ts="signup_ts",
        window="7 days", watermark="365 days",
    )
    out = run_to_memory(joined, _qname(), spark)

    bp = ev.filter(F.col("event_type") == "purchase")
    bs = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    want = bp.join(bs, "user_id").filter(
        (F.col("signup_ts") >= F.col("ts") - F.expr("INTERVAL 7 days"))
        & (F.col("signup_ts") <= F.col("ts") + F.expr("INTERVAL 7 days"))
    )
    assert out.count() == want.count()


def test_deduplicate_stream(spark, events_dir):
    path, schema, ev = events_dir
    stream = file_watchdog(spark, path, schema)
    deduped = deduplicate_stream(stream, ["user_id", "event_type"], "ts", watermark="365 days")
    out = run_to_memory(deduped, _qname(), spark)
    want = ev.dropDuplicates(["user_id", "event_type"]).count()
    assert out.count() == want


def test_stateful_running_stats(spark, events_dir):
    from metalpipe_spark.streaming.streams import stateful_running_stats

    path, schema, ev = events_dir
    stream = file_watchdog(spark, path, schema)
    stats = stateful_running_stats(stream, "user_id", "value")
    out = run_to_memory(stats, _qname(), spark, output_mode="update")
    # One final state row per user (single micro-batch => one emission).
    final = out.groupBy("user_id").agg(F.max("n").alias("n"), F.max("total").alias("total"))
    want = ev.groupBy("user_id").agg(
        F.count("value").alias("n"), F.sum("value").alias("total")
    )
    got = {r["user_id"]: (r["n"], round(r["total"], 4)) for r in final.collect()}
    exp = {r["user_id"]: (r["n"], round(r["total"], 4)) for r in want.collect()}
    assert got == exp


def test_foreach_batch_sink(spark, events_dir, tmp_path):
    path, schema, ev = events_dir
    stream = file_watchdog(spark, path, schema)
    seen: list[int] = []

    def capture(batch_df, batch_id):
        seen.append(batch_df.count())

    q = foreach_batch_sink(stream, capture, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert sum(seen) == ev.count()


def test_multi_microbatch_window_state(spark, events_dir):
    """max_files_per_trigger=1 forces one micro-batch per file (4 here);
    windowed counts accumulated ACROSS batches must equal the batch
    aggregate — the incremental-backfill contract a 100 TB history replay
    relies on (state store correctness, not single-batch luck)."""
    path, schema, ev = events_dir
    stream = file_watchdog(spark, path, schema, max_files_per_trigger=1)
    agg = tumbling_window(
        stream, "ts", "1 day", [F.count(F.lit(1)).alias("n")], watermark="1 second"
    )
    out = run_to_memory(agg, _qname(), spark, output_mode="complete")
    got = {(r["window"]["start"], r["n"]) for r in out.collect()}
    want = {
        (r["window"]["start"], r["n"])
        for r in ev.groupBy(F.window("ts", "1 day").alias("window"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_multi_microbatch_stateful_stats(spark, events_dir):
    """Running stats across 4 micro-batches: the FINAL emission per key
    (largest running n) equals the batch aggregate."""
    from metalpipe_spark.streaming.streams import stateful_running_stats

    path, schema, ev = events_dir
    stream = file_watchdog(spark, path, schema, max_files_per_trigger=1).select(
        "user_id", "value"
    )
    stats = stateful_running_stats(stream, "user_id", "value")
    out = run_to_memory(stats, _qname(), spark, output_mode="update")
    final = (
        out.groupBy("user_id")
        .agg(F.max_by(F.struct("n", "vmin", "vmax"), "n").alias("s"))
        .select("user_id", "s.n", "s.vmin", "s.vmax")
    )
    got = {r["user_id"]: (r["n"], r["vmin"], r["vmax"]) for r in final.collect()}
    want = {
        r["user_id"]: (r["n"], r["vmin"], r["vmax"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("value").alias("n"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    assert got == want


def test_streaming_incremental_dedup_foreach_batch(spark, tmp_path):
    """The continuously-ingesting dedup pipeline end-to-end: a document
    stream (one micro-batch per file) flows through foreachBatch, each
    batch dedups against the fingerprint store persisted so far and
    appends survivors — the result must equal one-shot exact_dedup over
    everything (same canonical ids, since files arrive in id order)."""
    from metalpipe_spark.operators.dedup import exact_dedup, incremental_exact_dedup

    texts = ["alpha beta", "gamma", "alpha beta", "delta", "gamma", "eps",
             "delta", "zeta eta"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    import time as _time

    src = tmp_path / "docs"
    for lo, hi in ((0, 3), (3, 6), (6, 8)):  # three arriving files
        docs.where(f"doc_id >= {lo} AND doc_id < {hi}").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        # FileStreamSource orders batches by (mtime, path); space the
        # writes so arrival order is deterministic, not mtime-tie luck.
        _time.sleep(1.1)
    store_path = str(tmp_path / "store")
    kept_path = str(tmp_path / "kept")

    stream = file_watchdog(spark, str(src), docs.schema, max_files_per_trigger=1)

    def dedup_batch(batch_df, batch_id):
        try:
            store = spark.read.parquet(store_path)
        except Exception:
            store = None
        fresh, updated = incremental_exact_dedup(batch_df, store)
        fresh.select("doc_id", "text").write.mode("append").parquet(kept_path)
        updated.select("fingerprint").write.mode("overwrite").parquet(
            store_path + "_next"
        )
        # atomic-enough swap for the test; production uses a table format
        spark.read.parquet(store_path + "_next").write.mode("overwrite").parquet(
            store_path
        )

    q = foreach_batch_sink(stream, dedup_batch, str(tmp_path / "ckpt"))
    q.awaitTermination()

    kept = sorted(r["doc_id"] for r in spark.read.parquet(kept_path).collect())
    want = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert kept == want == [0, 1, 3, 5, 7]


def test_sized_state_partitions_scales_with_volume():
    from metalpipe_spark.streaming.streams import sized_state_partitions

    assert sized_state_partitions(10 * 1024 * 1024) == 8  # floor at small inputs
    assert sized_state_partitions(320 * 1024 * 1024) == 11
    assert sized_state_partitions(100 * 1024**4) == 10_000  # 100 TB hits the ceiling


def test_state_partition_scope_restores_conf(spark):
    from metalpipe_spark.streaming.streams import state_partition_scope

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with state_partition_scope(spark, 7):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_upsert_sink_applies_merge_per_batch(spark, tmp_path):
    from metalpipe_spark.sinks.writers import upsert_parquet
    from metalpipe_spark.streaming.streams import file_watchdog, stream_upsert_sink

    target = str(tmp_path / "target")
    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], ["id", "part", "v"]
    )
    upsert_parquet(initial, target, "id", "part")

    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(2, "a", 99.0), (4, "b", 40.0)], ["id", "part", "v"]
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch1"))

    stream = file_watchdog(
        spark, str(src / "batch1"), "id long, part string, v double"
    )
    q = stream_upsert_sink(
        stream, target, "id", "part", str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    rows = {r["id"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}


def test_upsert_parquet_replay_repairs_partial_rewrite(spark, tmp_path):
    """The replay contract (writers.py docstring): when a touched
    partition has lost some of its files, replaying the SAME batch
    (what the streaming checkpoint does after a crash) through the
    staged promotion restores the batch's full effect — every batch row
    present exactly once, merge idempotent.  Also pins plain
    idempotence: re-running an already-applied batch is a no-op."""
    import os

    from metalpipe_spark.sinks.writers import upsert_parquet

    target = str(tmp_path / "target")
    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], ["id", "part", "v"]
    )
    upsert_parquet(initial, target, "id", "part")
    batch = spark.createDataFrame(
        [(2, "a", 99.0), (5, "a", 50.0), (6, "b", 60.0)], ["id", "part", "v"]
    )
    upsert_parquet(batch, target, "id", "part")
    full = sorted(
        (r["id"], r["part"], r["v"]) for r in spark.read.parquet(target).collect()
    )
    assert full == [
        (1, "a", 10.0), (2, "a", 99.0), (3, "b", 30.0),
        (5, "a", 50.0), (6, "b", 60.0),
    ]

    # replay with no corruption: a no-op (idempotent merge)
    upsert_parquet(batch, target, "id", "part")
    assert sorted(
        (r["id"], r["part"], r["v"]) for r in spark.read.parquet(target).collect()
    ) == full

    # simulate a partial partition: partition a lost one of its files
    part_a = os.path.join(target, "part=a")
    victims = [f for f in sorted(os.listdir(part_a)) if f.endswith(".parquet")]
    assert len(victims) >= 2, "need multiple files to simulate a partial write"
    os.remove(os.path.join(part_a, victims[0]))
    partial = spark.read.parquet(target).count()
    assert partial < len(full)  # state is genuinely partial now

    # checkpoint replay: same batch again — batch rows all restored,
    # exactly once, no duplicates anywhere
    upsert_parquet(batch, target, "id", "part")
    rows = [
        (r["id"], r["part"], r["v"]) for r in spark.read.parquet(target).collect()
    ]
    assert len(rows) == len(set(r[0] for r in rows))  # keys unique
    by_id = dict((i, (p, v)) for i, p, v in rows)
    assert by_id[2] == ("a", 99.0)
    assert by_id[5] == ("a", 50.0)
    assert by_id[6] == ("b", 60.0)


def test_streaming_semantic_dedup_foreach_batch(spark, tmp_path):
    """Streaming semantic dedup end-to-end: an embedding stream flows
    through foreachBatch, each micro-batch dedups against the persisted
    cell store (incremental_semantic_dedup, GEMM path) and survivors
    extend it — the kept set must equal one-shot semantic_dedup over
    everything (files arrive in id order, so canonical min-ids agree)."""
    from metalpipe_spark.operators.similarity import semantic_dedup
    from metalpipe_spark.streaming.streams import stream_semantic_dedup_sink

    cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    rows = [
        (0, [1.0, 0.1, 0.0, 0.0]),
        (1, [0.1, -1.0, 0.0, 0.0]),
        (2, [2.0, 0.2, 0.0, 0.0]),   # dup of 0
        (3, [-1.0, 0.0, 0.3, 0.0]),
        (4, [-3.0, 0.0, 0.9, 0.0]),  # dup of 3
        (5, [0.0, 0.0, 1.0, 0.1]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    import time as _time

    src = tmp_path / "vecs"
    for lo, hi in ((0, 2), (2, 4), (4, 6)):
        vecs.where(f"vec_id >= {lo} AND vec_id < {hi}").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)
    store_path = str(tmp_path / "store")
    kept_path = str(tmp_path / "kept")

    stream = file_watchdog(spark, str(src), vecs.schema, max_files_per_trigger=1)
    q = stream_semantic_dedup_sink(
        stream, cents, kept_path, store_path, str(tmp_path / "ckpt"),
        threshold=0.9,
    )
    q.awaitTermination()

    kept = sorted(r["vec_id"] for r in spark.read.parquet(kept_path).collect())
    want = sorted(
        r["vec_id"] for r in semantic_dedup(vecs, cents, threshold=0.9).collect()
    )
    assert kept == want == [0, 1, 3, 5]


def test_streaming_image_dedup_foreach_batch(spark, tmp_path):
    """Streaming image dedup end-to-end: micro-batches of raw-RGB rows
    dedup against the persisted dHash code store; a later batch's edited
    near-duplicate of an earlier image is dropped, a genuinely new image
    survives, and the store accumulates exactly the survivors."""
    import time as _time

    import numpy as np

    from metalpipe_spark.streaming.streams import stream_image_dedup_sink

    w, h = 36, 32
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((yy * 3 + xx * 5) % 251).astype(np.uint8)
    img_a = np.repeat(base[:, :, None], 3, axis=2)
    img_b = img_a.copy()
    img_b[0:2, 0:2, :] = 255                     # near-dup of A
    img_c = ((base.astype(int) * 7 + 31) % 251).astype(np.uint8)
    img_c = np.repeat(img_c[:, :, None], 3, axis=2)  # distinct

    schema = "id long, content binary, width int, height int"
    src = tmp_path / "imgs"
    spark.createDataFrame(
        [(1, bytearray(img_a.tobytes()), w, h)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.1)
    spark.createDataFrame(
        [(2, bytearray(img_b.tobytes()), w, h),
         (3, bytearray(img_c.tobytes()), w, h)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    kept_path = str(tmp_path / "kept")
    store_path = str(tmp_path / "store")
    stream = file_watchdog(spark, str(src), schema, max_files_per_trigger=1)
    stream_image_dedup_sink(
        stream, kept_path, store_path, str(tmp_path / "ckpt")
    ).awaitTermination()

    from metalpipe_spark.streaming.streams import load_store

    kept = sorted(r["id"] for r in spark.read.parquet(kept_path).collect())
    store = sorted(r["id"] for r in load_store(spark, store_path).collect())
    assert kept == store == [1, 3]


def test_store_swap_reader_atomicity_and_debris_heal(spark, tmp_path):
    """The incremental-store publish is reader-atomic: at every crash
    point of a swap (new version dir fully written but manifest not flipped;
    manifest flipped), a load_store reader resolves exactly one
    complete published version — never a mix — and the next batch
    reconciles crash debris away without changing reader-visible
    state.  (A reader that pinned version N-1 immediately before a
    promotion may find its files GC'd mid-scan — the documented
    retryable-read caveat of load_published.)"""
    import os
    import shutil
    import time as _time

    from metalpipe_spark.sinks.writers import (
        _write_manifest,
        read_current_manifest,
    )
    from metalpipe_spark.streaming.streams import (
        file_watchdog,
        load_store,
        stream_semantic_dedup_sink,
    )

    cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    schema = "vec_id long, embedding array<double>"
    src = tmp_path / "vecs"
    store_path = str(tmp_path / "store")
    kept_path = str(tmp_path / "kept")

    spark.createDataFrame(
        [(0, [1.0, 0.1, 0.0, 0.0]), (1, [0.1, -1.0, 0.0, 0.0])], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream_semantic_dedup_sink(
        file_watchdog(spark, str(src), schema, max_files_per_trigger=4),
        cents, kept_path, store_path, str(tmp_path / "ckpt1"), threshold=0.9,
    ).awaitTermination()

    v1 = read_current_manifest(spark, store_path)
    assert v1 is not None and v1[0] == 1
    v1_rows = sorted(r["vec_id"] for r in load_store(spark, store_path).collect())
    assert v1_rows == [0, 1]

    # Mid-swap crash point: version-2 dir fully written (different
    # content, so mixing would be visible), manifest NOT yet flipped.
    (v1_dir,) = set(v1[1])
    v2_dir = "v-0000000002"
    # BIGINT literal: under append-only manifests this dir coexists
    # with real segments in later versions, so its schema must match
    # the store's (vec_id long) or the multi-segment read fails.
    load_store(spark, store_path).limit(1).selectExpr(
        "CAST(7 AS BIGINT) AS vec_id", "* EXCEPT (vec_id)"
    ).write.mode("overwrite").parquet(os.path.join(store_path, v2_dir))
    got = sorted(r["vec_id"] for r in load_store(spark, store_path).collect())
    assert got == v1_rows  # still exactly version 1

    # The flip: one manifest rename moves readers to version 2.
    _write_manifest(
        spark, store_path, 2,
        {v2_dir: sorted(
            f for f in os.listdir(os.path.join(store_path, v2_dir))
            if not f.startswith(("_", "."))
        )},
    )
    got2 = sorted(r["vec_id"] for r in load_store(spark, store_path).collect())
    assert got2 == [7]  # exactly version 2

    # Next real batch: reconciles the superseded v1 dir (unlisted by the
    # current manifest) and publishes v3 on top of the v2 state.
    _time.sleep(1.1)
    spark.createDataFrame(
        [(4, [0.0, 0.0, 1.0, 0.1])], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream_semantic_dedup_sink(
        file_watchdog(spark, str(src), schema, max_files_per_trigger=8),
        cents, kept_path, store_path, str(tmp_path / "ckpt2"), threshold=0.9,
    ).awaitTermination()
    assert not os.path.exists(os.path.join(store_path, v1_dir))
    v3 = read_current_manifest(spark, store_path)
    assert v3 is not None and v3[0] == 3
    got3 = sorted(r["vec_id"] for r in load_store(spark, store_path).collect())
    assert 7 in got3 and 4 in got3


def test_bloom_decontaminate_filter_streaming_matches_batch(spark, tmp_path):
    """The stateless Bloom decontamination filter runs identically on a
    STREAM and on the same data as a batch (no aggregation, no state,
    no watermark — definition-time mask, scan-side higher-order probe),
    and the contaminated document is dropped in both."""
    import time as _time

    from metalpipe_spark.operators.sketches import bloom_decontaminate_filter

    bench_rows = [
        (100 + i, f"secret eval item {i} held out answer {i}")
        for i in range(5)
    ]
    doc_rows = [
        (0, "prefix words secret eval item 2 held out answer 2 suffix"),
        (1, "completely unrelated training text about other things entirely"),
        (2, "more clean text with no overlap whatsoever in these tokens"),
    ]
    schema = "doc_id long, text string"
    bench = spark.createDataFrame(bench_rows, schema)
    docs = spark.createDataFrame(doc_rows, schema)

    batch_kept = sorted(
        r["doc_id"]
        for r in bloom_decontaminate_filter(docs, bench, min_hits=3).collect()
    )
    assert batch_kept == [1, 2]

    src = tmp_path / "docs"
    spark.createDataFrame(doc_rows[:1], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    _time.sleep(1.1)
    spark.createDataFrame(doc_rows[1:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    stream = file_watchdog(spark, str(src), docs.schema, max_files_per_trigger=1)
    filtered = bloom_decontaminate_filter(stream, bench, min_hits=3)
    assert filtered.isStreaming
    out = str(tmp_path / "kept")
    (
        filtered.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    stream_kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert stream_kept == batch_kept


def test_stream_hll_registers_match_batch_estimates(spark, events_dir):
    """Streaming HLL monitor: the registers maintained by the
    watermarked streaming max-agg merge + estimate to EXACTLY the
    batch pipeline's estimates on the same data (the mergeability
    contract: register max is the HLL merge)."""
    from metalpipe_spark.operators.sketches import (
        hll_count_distinct,
        hll_estimate_from_registers,
        hll_merge_registers,
    )
    from metalpipe_spark.streaming.streams import stream_hll_registers

    path, schema, batch = events_dir
    stream = file_watchdog(spark, path, schema, max_files_per_trigger=1)
    # Wide watermark: the fixture's files are round-robin partitions
    # (each spans the full time range), so a short watermark would
    # legitimately DROP early-window rows arriving in later
    # micro-batches — correct streaming semantics, but this test pins
    # lossless stream==batch parity of the register arithmetic.
    regs = stream_hll_registers(
        stream, "user_id", ts_col="ts", window_duration="1 day",
        watermark="3650 days", p=8,
    )
    # Complete mode: append would only emit windows the watermark has
    # closed, and the lossless wide watermark above never closes one.
    out = regs.writeStream.format("memory").queryName("hllregs").outputMode(
        "complete"
    ).trigger(availableNow=True).start()
    out.awaitTermination()
    streamed = spark.table("hllregs")

    merged = hll_merge_registers(streamed, group_cols=["window"])
    got = {
        str(r["window"]["start"]): r["hll_estimate"]
        for r in hll_estimate_from_registers(
            merged, group_cols=["window"], p=8
        ).collect()
    }

    from pyspark.sql import functions as F

    want_src = batch.select(
        F.window(F.col("ts"), "1 day").alias("window"), "user_id"
    )
    want = {
        str(r["window"]["start"]): r["hll_estimate"]
        for r in hll_count_distinct(
            want_src, "user_id", group_cols=["window"], p=8
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_corpus_pipeline_multibatch_parity(spark, tmp_path):
    """Composed streaming curation pipeline (r10): two micro-batches
    through scrub -> quality -> decontaminate -> incremental dedup.
    PII is scrubbed in the kept output, a too-short doc drops at
    quality, a benchmark copy drops at decontamination, and an exact
    duplicate arriving in a LATER batch dedups against the persisted
    fingerprint store — the incremental semantics a single batch cannot
    show.  Stage-by-stage the surviving set equals the batch operators'
    (the q_stream_corpus oracle pins single-batch equality; this pins
    the cross-batch store)."""
    import time as _time

    from metalpipe_spark.streaming.streams import (
        file_watchdog,
        stream_corpus_pipeline,
    )

    good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    pii = (
        "contact person at someone@example.com about alpha beta gamma "
        "delta epsilon zeta eta theta iota kappa lamda mu nu xi omicron"
    )
    bench_text = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua"
    )
    schema = "doc_id long, text string"
    src = tmp_path / "docs"
    spark.createDataFrame(
        [(1, good), (2, pii), (3, "a b"), (4, bench_text)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.1)
    spark.createDataFrame(
        [(11, good), (12, "one two three four five six seven eight")],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))

    bench = spark.createDataFrame([(bench_text,)], "text string")
    kept_path = str(tmp_path / "kept")
    stream = file_watchdog(spark, str(src), schema, max_files_per_trigger=1)
    stream_corpus_pipeline(
        stream,
        bench,
        kept_path,
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        min_hits=3,
    ).awaitTermination()

    kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(kept_path).collect()}
    # 3 fails quality (too_short), 4 is benchmark-contaminated, 11 is a
    # cross-batch duplicate of 1 caught by the store.
    assert sorted(kept) == [1, 2, 12]
    assert "<EMAIL>" in kept[2] and "someone@example.com" not in kept[2]

    from metalpipe_spark.streaming.streams import load_store

    fps = [r["fingerprint"] for r in load_store(spark, str(tmp_path / "store")).collect()]
    assert len(fps) == len(set(fps)) == 3  # one md5 row per surviving doc


def test_incremental_sink_replay_of_committed_batch_is_noop(spark, tmp_path):
    """Exactly-once (r10): a micro-batch whose store manifest already
    committed must REPLAY as a no-op.  Simulated by deleting the
    checkpoint's commit record after a successful drain — on restart
    Spark re-runs batch 0 with the same batch_id; without the manifest
    guard the replay would recompute fresh against the POST-flip store
    (everything a dup) and overwrite the batch's kept rows away."""
    from metalpipe_spark.sinks.writers import read_manifest_body
    from metalpipe_spark.streaming.streams import (
        file_watchdog,
        stream_corpus_pipeline,
    )

    good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    schema = "doc_id long, text string"
    src = tmp_path / "docs"
    spark.createDataFrame([(1, good), (2, other)], schema).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    bench = spark.createDataFrame([("unrelated words here",)], "text string")
    kept_path = str(tmp_path / "kept")
    store_path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        import time as _time

        q = stream_corpus_pipeline(
            file_watchdog(spark, str(src), schema),
            bench,
            kept_path,
            store_path,
            ckpt,
            min_hits=3,
        )
        q.awaitTermination()
        q.stop()
        # The manager releases the checkpoint lock asynchronously after
        # stop; a restart racing it trips SparkConcurrentModification.
        for _ in range(50):
            if not any(a.id == q.id for a in spark.streams.active):
                break
            _time.sleep(0.2)

    run()
    before = sorted(r["doc_id"] for r in spark.read.parquet(kept_path).collect())
    assert before == [1, 2]
    v_before, body = read_manifest_body(spark, store_path)
    assert body["batch_id"] == 0

    # Crash window: sink committed, checkpoint commit record lost (the
    # .crc sidecar goes too — local-FS rename refuses a stale one).
    import os

    for f in ("0", ".0.crc"):
        p = os.path.join(ckpt, "commits", f)
        if os.path.exists(p):
            os.remove(p)
    run()  # Spark replays batch 0 with the same batch_id

    after = sorted(r["doc_id"] for r in spark.read.parquet(kept_path).collect())
    assert after == before  # no duplicates, no lost rows
    v_after, body2 = read_manifest_body(spark, store_path)
    assert (v_after, body2["batch_id"]) == (v_before, 0)  # store untouched


def test_stream_dsir_sink_matches_batch_incremental(spark, tmp_path):
    """Streaming DSIR over two micro-batches: per-doc importance rows
    equal the batch incremental computation over the same splits (and
    therefore, fold-before-score, the full-corpus weights restricted to
    each batch's docs); the persisted store ends at the full corpus
    distribution with <= buckets rows."""
    import time as _time

    from metalpipe_spark.operators.curation import (
        dsir_importance_weights,
        dsir_target_counts,
    )
    from metalpipe_spark.streaming.streams import load_store, stream_dsir_sink

    rows = [(i, f"w{i % 5} w{i % 3} common tok{i % 7}") for i in range(30)]
    schema = "doc_id long, text string"
    src = tmp_path / "docs"
    spark.createDataFrame(rows[:12], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    _time.sleep(1.1)
    spark.createDataFrame(rows[12:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    corpus = spark.createDataFrame(rows, schema)
    target = spark.createDataFrame(rows[:4], schema)

    stream = file_watchdog(spark, str(src), schema, max_files_per_trigger=1)
    stream_dsir_sink(
        stream,
        target,
        str(tmp_path / "kept"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        buckets=64,
        # exact: decimal sums are order-independent, so the streaming
        # plan's partial-sum order cannot flip a comparison bit vs the
        # batch plan (the default double path is ~1 ulp plan-dependent)
        exact=True,
    ).awaitTermination()

    kept_rows = spark.read.parquet(str(tmp_path / "kept")).collect()
    # duplicate-safe exactly-once check: a doc scored in two batches
    # would collapse in a dict — count the raw rows
    assert sorted(r["doc_id"] for r in kept_rows) == list(range(30))
    got = {r["doc_id"]: (r["n_grams"], r["log_weight"]) for r in kept_rows}

    # batch 2 saw the full distribution -> equals the one-shot weights
    full = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_importance_weights(
            corpus, target, buckets=64, exact=True
        ).collect()
    }
    assert all(got[i] == full[i] for i in range(12, 30))

    # final store == full-corpus bucket distribution, <= buckets rows
    store = {r["bucket"]: r["__cr"] for r in load_store(spark, str(tmp_path / "store")).collect()}
    from metalpipe_spark.operators.curation import _hashed_grams

    want = {
        r["bucket"]: r["n"]
        for r in _hashed_grams(corpus, "text", 64, [])
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert store == want and len(store) <= 64


def test_streaming_semantic_dedup_scaled_cells(spark, tmp_path):
    """The streaming face of the corpus-scaled incremental SemDeDup
    (round 13): micro-batches dedup through a FITTED centroid table
    (fit_semantic_cells), so the 100 TB geometry is reachable from the
    streaming entry point too — per-batch cost stays constant as the
    persisted store accumulates.  Kept set equals the one-shot scaled
    dedup over everything (id-ordered arrival)."""
    import time as _time

    from metalpipe_spark.operators.similarity import (
        fit_semantic_cells,
        semantic_dedup_scaled,
    )
    from metalpipe_spark.streaming.streams import stream_semantic_dedup_sink

    rows = [
        (0, [1.0, 0.1, 0.0, 0.0]),
        (1, [0.1, -1.0, 0.0, 0.0]),
        (2, [2.0, 0.2, 0.0, 0.0]),   # dup of 0
        (3, [-1.0, 0.0, 0.3, 0.0]),
        (4, [-3.0, 0.0, 0.9, 0.0]),  # dup of 3
        (5, [0.0, 0.0, 1.0, 0.1]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cells = fit_semantic_cells(vecs, target_cell_size=3, seed=5).cache()

    src = tmp_path / "vecs"
    for lo, hi in ((0, 2), (2, 4), (4, 6)):
        vecs.where(f"vec_id >= {lo} AND vec_id < {hi}").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)
    kept_path = str(tmp_path / "kept")

    stream = file_watchdog(spark, str(src), vecs.schema, max_files_per_trigger=1)
    stream_semantic_dedup_sink(
        stream, None, kept_path, str(tmp_path / "store"),
        str(tmp_path / "ckpt"), threshold=0.9, centroid_table=cells,
    ).awaitTermination()

    kept = sorted(r["vec_id"] for r in spark.read.parquet(kept_path).collect())
    want = sorted(
        r["vec_id"]
        for r in semantic_dedup_scaled(
            vecs, threshold=0.9, target_cell_size=3, seed=5
        ).collect()
    )
    # semantic_dedup_scaled fits its own k-means (MLlib) so centroid
    # GEOMETRY may differ from the fitted table — but on this fixture
    # every duplicate is PARALLEL to its original (identical unit
    # vector, same cell under any geometry), so both answers are the
    # content contract: dups 2 and 4 lose, everything else survives.
    assert kept == want == [0, 1, 3, 5]

    import pytest

    with pytest.raises(ValueError, match="exactly one"):
        stream_semantic_dedup_sink(
            stream, [[1.0, 0.0, 0.0, 0.0]], kept_path,
            str(tmp_path / "s2"), str(tmp_path / "c2"),
            centroid_table=cells,
        )
    with pytest.raises(ValueError, match="exactly one"):
        stream_semantic_dedup_sink(
            stream, None, kept_path, str(tmp_path / "s3"), str(tmp_path / "c3"),
        )


def test_stream_histogram_registers_match_batch_quantiles(spark, events_dir):
    """Streaming histogram monitor: per-window bin registers maintained
    by the watermarked streaming count-agg merge + estimate to EXACTLY
    the batch sketch's quantiles on the same data, and per-window state
    is capped at bins+2 rows."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import (
        histogram_merge,
        histogram_quantiles,
        histogram_sketch_quantiles,
    )
    from metalpipe_spark.streaming.streams import stream_histogram_registers

    path, schema, batch = events_dir
    stream = file_watchdog(spark, path, schema, max_files_per_trigger=1)
    bins, lo, hi = 16, 0.0, 1000.0
    regs = stream_histogram_registers(
        stream, "value", lo, hi, ts_col="ts", window_duration="1 day",
        watermark="3650 days", bins=bins,
    )
    out = regs.writeStream.format("memory").queryName("histregs").outputMode(
        "complete"
    ).trigger(availableNow=True).start()
    out.awaitTermination()
    streamed = spark.table("histregs")
    per_window = streamed.groupBy("window").count().collect()
    assert per_window and all(r["count"] <= bins + 2 for r in per_window)

    merged = histogram_merge(streamed, group_cols=["window"])
    got = {
        (str(r["window"]["start"]), r["q"]): r["est"]
        for r in histogram_quantiles(
            merged, qs=(0.5, 0.9), group_cols=["window"]
        ).collect()
    }
    want_src = batch.select(
        F.window(F.col("ts"), "1 day").alias("window"), "value"
    )
    want = {
        (str(r["window"]["start"]), r["q"]): r["est"]
        for r in histogram_sketch_quantiles(
            want_src, "value", lo, hi, qs=(0.5, 0.9), bins=bins,
            group_cols=["window"],
        ).collect()
    }
    assert got == want and len(got) >= 2


def test_stream_exact_substr_sink_equals_one_shot(spark, tmp_path):
    """The streaming ExactSubstr face: three arriving files dedup
    against the accumulating window store; because files arrive in id
    order, the concatenated kept output must equal the one-shot batch
    operator over the whole corpus — and the store is versioned
    (manifest-atomic) like every _incremental_store_sink store."""
    import time as _time

    from metalpipe_spark.operators.dedup import exact_substr_dedup
    from metalpipe_spark.streaming.streams import (
        load_store,
        stream_exact_substr_sink,
    )

    run = "tok0 tok1 tok2 tok3 tok4 tok5"  # the duplicated 6-token run
    texts = [
        f"{run} tail0 tail1",        # doc 0: first occurrence, kept
        "solo0 solo1 solo2 solo3 solo4 solo5 solo6",
        f"lead0 {run}",              # doc 2 (batch 2): run removed
        "other0 other1 other2 other3 other4 other5",
        f"{run}",                    # doc 4 (batch 3): fully covered
        f"pre0 pre1 {run} post0",    # doc 5 (batch 3): run removed
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    src = tmp_path / "docs"
    for lo, hi in ((0, 2), (2, 4), (4, 6)):
        docs.where(f"doc_id >= {lo} AND doc_id < {hi}").coalesce(
            1
        ).write.mode("append").parquet(str(src))
        _time.sleep(1.1)  # deterministic (mtime, path) arrival order

    stream = file_watchdog(
        spark, str(src), docs.schema, max_files_per_trigger=1
    )
    kept_path = str(tmp_path / "kept")
    store_path = str(tmp_path / "store")
    stream_exact_substr_sink(
        stream, kept_path, store_path, str(tmp_path / "ckpt"), min_length=6
    ).awaitTermination()

    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in spark.read.parquet(kept_path).collect()
    }
    want = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in exact_substr_dedup(docs, min_length=6).collect()
    }
    assert got == want
    assert 4 not in got  # fully-covered doc disappeared
    # The store is the published distinct-window table with geometry
    # markers intact (readable through the manifest-atomic reader).
    store = load_store(spark, store_path)
    markers = store.select("wL", "h").distinct().collect()
    assert [(r["wL"], r["h"]) for r in markers] == [(6, "md5/ds2")]


def test_stream_exact_substr_delta_segments_and_compaction(
    spark, tmp_path, monkeypatch
):
    """r16: the ExactSubstr window store publishes DELTA SEGMENTS — each
    micro-batch writes only its new windows (O(batch), not O(store)) and
    the flipped manifest references prior segments plus the delta; a
    reader racing the flip still resolves exactly one manifest's file
    set, unflipped debris stays invisible and reconciles away, and a
    later sink run with a small fold fan-in folds the accumulated
    segments into one directory."""
    import os
    import time as _time

    from metalpipe_spark.operators.dedup import incremental_exact_substr
    from metalpipe_spark.sinks.writers import read_current_manifest
    from metalpipe_spark.streaming.streams import (
        load_store,
        stream_exact_substr_sink,
    )

    run = "tok0 tok1 tok2 tok3 tok4 tok5"
    texts = [
        f"{run} tail0 tail1",
        "solo0 solo1 solo2 solo3 solo4 solo5 solo6",
        f"lead0 {run}",
        "other0 other1 other2 other3 other4 other5",
        f"{run}",
        f"pre0 pre1 {run} post0",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    src = tmp_path / "docs"
    for lo, hi in ((0, 2), (2, 4), (4, 6)):
        docs.where(f"doc_id >= {lo} AND doc_id < {hi}").coalesce(
            1
        ).write.mode("append").parquet(str(src))
        _time.sleep(1.1)

    kept_path = str(tmp_path / "kept")
    store_path = str(tmp_path / "store")
    stream_exact_substr_sink(
        file_watchdog(spark, str(src), docs.schema, max_files_per_trigger=1),
        kept_path, store_path, str(tmp_path / "ckpt"), min_length=6,
    ).awaitTermination()

    # Three micro-batches -> manifest v3 referencing THREE live segment
    # dirs (v1's and v2's segments were never rewritten or deleted).
    v3 = read_current_manifest(spark, store_path)
    assert v3 is not None and v3[0] == 3
    segs = sorted(v3[1])
    assert segs == ["v-0000000001", "v-0000000002", "v-0000000003"]
    for d in segs:
        assert os.path.isdir(os.path.join(store_path, d))
    # The multi-segment union equals the one-shot incremental store.
    keys = ["__w1", "__w2", "__w3", "__w4", "first_id", "first_s"]
    got = sorted(
        tuple(r[k] for k in keys)
        for r in load_store(spark, store_path).collect()
    )
    want = sorted(
        tuple(r[k] for k in keys)
        for r in incremental_exact_substr(docs, None, min_length=6)[1].collect()
    )
    assert got == want

    # Crash debris: an unflipped v4 dir is invisible to readers (a
    # racing reader resolves manifest v3's exact multi-segment file
    # set) ...
    junk_dir = os.path.join(store_path, "v-0000000004")
    load_store(spark, store_path).limit(1).write.mode("overwrite").parquet(
        junk_dir
    )
    still = sorted(
        tuple(r[k] for k in keys)
        for r in load_store(spark, store_path).collect()
    )
    assert still == want

    # ... and the next batch (new checkpoint lineage, fold fan-in small
    # enough to trigger) reconciles the debris away AND
    # SIZE-TIER-FOLDS: the three similar-sized segments plus the new
    # delta share a byte tier, 4 >= 2 -> they merge into ONE new
    # version directory.  The fold batch allocates TWO versions (v4 =
    # delta, v5 = fold output), the manifest flips once at v5, the
    # delta intermediate and the superseded segments are GC'd, and
    # reader-visible content is preserved.
    _time.sleep(1.1)
    spark.createDataFrame(
        [(9, f"{run} fresh0 fresh1 fresh2")], ["doc_id", "text"]
    ).coalesce(1).write.mode("append").parquet(str(src))
    monkeypatch.setattr(streams, "_FOLD_FAN_IN", 2)
    stream_exact_substr_sink(
        file_watchdog(spark, str(src), docs.schema, max_files_per_trigger=8),
        kept_path, store_path, str(tmp_path / "ckpt2"), min_length=6,
    ).awaitTermination()
    v5 = read_current_manifest(spark, store_path)
    assert v5 is not None and v5[0] == 5
    assert sorted(v5[1]) == ["v-0000000005"]
    for d in segs + ["v-0000000004"]:
        assert not os.path.exists(os.path.join(store_path, d))
    after = sorted(
        tuple(r[k] for k in keys)
        for r in load_store(spark, store_path).collect()
    )
    # doc 9's run windows are store hits (not new firsts); only its
    # fresh tail contributes new windows -> store grew but kept every
    # pre-compaction row.
    assert set(want) <= set(after) and len(after) > len(want)


def test_tiered_fold_multilevel_bounds_segments(spark, tmp_path, monkeypatch):
    """r16 verdict task 3, multi-level: many micro-batches with a
    per-tier fan-in of 2 cascade folds LSM-style — fold outputs land
    in higher byte tiers and fold again when THEIR tier fills — so
    live segment count stays bounded at ~fan_in x #tiers while the
    every-K rule would have rewritten the full store repeatedly.
    Content equals the one-shot incremental store after every
    lineage."""
    import time as _time

    from metalpipe_spark.operators.dedup import incremental_exact_substr
    from metalpipe_spark.sinks.writers import read_current_manifest
    from metalpipe_spark.streaming.streams import (
        file_watchdog,
        load_store,
        stream_exact_substr_sink,
    )

    texts = [
        f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h" for i in range(8)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    src = tmp_path / "docs"
    for i in range(8):
        docs.where(f"doc_id = {i}").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.05)
    monkeypatch.setattr(streams, "_FOLD_FAN_IN", 2)
    stream_exact_substr_sink(
        file_watchdog(spark, str(src), docs.schema, max_files_per_trigger=1),
        str(tmp_path / "kept"), str(tmp_path / "store"),
        str(tmp_path / "ckpt"), min_length=6,
    ).awaitTermination()
    m = read_current_manifest(spark, str(tmp_path / "store"))
    assert m is not None
    # 8 equal-sized deltas under fan_in=2 fold pairwise and cascade:
    # live segments stay far below the 8 an unfolded store would hold
    # (bounded by ~fan_in * tiers), and versions advanced past 8
    # because fold outputs take their own version numbers.
    assert len(m[1]) <= 4
    assert m[0] > 8
    keys = ["__w1", "__w2", "__w3", "__w4", "first_id", "first_s"]
    got = sorted(
        tuple(r[k] for k in keys)
        for r in load_store(spark, str(tmp_path / "store")).collect()
    )
    want = sorted(
        tuple(r[k] for k in keys)
        for r in incremental_exact_substr(docs, None, min_length=6)[1].collect()
    )
    assert got == want


def test_stream_encode_sink_equals_batch_all_families(spark, tmp_path):
    """stream_encode_sink: availableNow over a static directory equals
    the batch encoder for each tokenizer family (the q_stream_embed
    contract; the bpe family is additionally oracle-gated by
    q_stream_bpe_encode)."""
    import pytest

    from metalpipe_spark.operators.bpe import wordpiece_encode
    from metalpipe_spark.operators.unigram import unigram_encode
    from metalpipe_spark.streaming.streams import stream_encode_sink

    docs = spark.createDataFrame(
        [(0, "the cat sat"), (1, "that hat"), (2, "catnip")],
        ["doc_id", "text"],
    )
    src = tmp_path / "docs"
    docs.coalesce(1).write.parquet(str(src))
    vocab = ["the", "cat", "##nip", "sat", "that", "hat", "c", "##at"]
    pieces = {"th": -1.0, "e": -2.0, "cat": -1.5, "sat": -1.5,
              "hat": -1.5, "t": -3.0, "a": -3.0, "nip": -2.0}

    for fam, model, enc in (
        ("wordpiece", vocab, wordpiece_encode),
        ("unigram", pieces, unigram_encode),
    ):
        stream = file_watchdog(spark, str(src), docs.schema)
        stream_encode_sink(
            stream, model, str(tmp_path / f"out_{fam}"),
            str(tmp_path / f"ckpt_{fam}"), tokenizer=fam,
        ).awaitTermination()
        norm = lambda r: tuple(
            tuple(v) if isinstance(v, list) else v for v in r
        )
        got = {
            norm(r) for r in spark.read.parquet(
                str(tmp_path / f"out_{fam}")
            ).collect()
        }
        want = {norm(r) for r in enc(docs, model).collect()}
        assert got == want, fam

    with pytest.raises(ValueError, match="unknown tokenizer"):
        stream_encode_sink(
            file_watchdog(spark, str(src), docs.schema),
            vocab, str(tmp_path / "x"), str(tmp_path / "xc"),
            tokenizer="sentencepiece",
        )


def test_stream_score_sink_multibatch_equals_batch(spark, tmp_path):
    """stream_score_sink (r16 verdict task 4): two source files drained
    one per micro-batch score identically to the batch backoff scorer
    over their union — per-doc scoring is batch-local, so multi-batch
    == single-batch == batch.  Bucket thresholds are pinned literals;
    replaying the query over the same checkpoint is a no-op (idempotent
    per-batch overwrite)."""
    from metalpipe_spark.operators.text import (
        ngram_logprob_backoff,
        train_backoff_lm,
    )
    from metalpipe_spark.streaming.streams import (
        file_watchdog,
        stream_score_sink,
    )

    train = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "a cat ran to the mat")],
        ["doc_id", "text"],
    )
    lm = train_backoff_lm(train, n=2, discount=0.75)
    a = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zz qq")], ["doc_id", "text"]
    )
    b = spark.createDataFrame(
        [(12, "a dog sat on the mat"), (13, "the")], ["doc_id", "text"]
    )
    src = tmp_path / "docs"
    a.coalesce(1).write.parquet(str(src))
    b.coalesce(1).write.mode("append").parquet(str(src))
    stream = file_watchdog(
        spark, str(src), "doc_id long, text string",
        max_files_per_trigger=1,
    )
    q = stream_score_sink(
        stream, lm, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        exact=True, thresholds=(-3.0, -1.5),
    )
    q.awaitTermination()
    assert q.lastProgress is not None
    out = spark.read.parquet(str(tmp_path / "out"))
    got = {
        r["doc_id"]: (r["mean_logprob"], r["bucket"])
        for r in out.collect()
    }
    want_scored = ngram_logprob_backoff(
        a.unionByName(b), lm, exact=True
    ).withColumn("mean_logprob", F.round("mean_logprob", 6))
    want = {}
    for r in want_scored.collect():
        m = r["mean_logprob"]
        want[r["doc_id"]] = (
            m, "head" if m > -1.5 else ("middle" if m > -3.0 else "tail")
        )
    assert got == want
    assert len(got) == 4
    # the batch provenance partition column records >= 2 micro-batches
    assert out.select("batch").distinct().count() >= 2
    # replay over the same (finished) checkpoint: no new rows, no error
    stream2 = file_watchdog(
        spark, str(src), "doc_id long, text string",
        max_files_per_trigger=1,
    )
    stream_score_sink(
        stream2, lm, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        exact=True, thresholds=(-3.0, -1.5),
    ).awaitTermination()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 4


def test_upsert_delta_loud_without_jars_or_full_merge(spark, tmp_path):
    """r16 verdict 'What's missing' #5: the Delta MERGE sink exists in
    code behind an optional import — without delta-spark it fails LOUD
    with the activation path; where the jars exist the same call runs
    the full create + merge + last-write-wins flow (skip-if-absent)."""
    import pytest

    from metalpipe_spark.sinks.writers import upsert_delta

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], ["k", "v", "ts"]
    )
    try:
        import delta  # noqa: F401

        have_delta = True
    except ImportError:
        have_delta = False
    if not have_delta:
        with pytest.raises(ImportError, match="Activation"):
            upsert_delta(base, str(tmp_path / "t"), "k")
        return
    # full path (runs only where the wheel + jars exist)
    path = str(tmp_path / "t")
    upsert_delta(base, path, "k")
    upd = spark.createDataFrame(
        [(2, "b2", 11), (2, "b3", 12), (3, "c", 11)], ["k", "v", "ts"]
    )
    upsert_delta(upd, path, "k", order_col="ts")
    got = {
        r["k"]: r["v"]
        for r in spark.read.format("delta").load(path).collect()
    }
    assert got == {1: "a", 2: "b3", 3: "c"}


def test_stream_ngram_count_sink_and_train_from_counts(
    spark, tmp_path, monkeypatch
):
    """r17: incremental n-gram counting — three micro-batches of
    additive count deltas (with a sum-merge tiered fold at fan_in=2)
    aggregate to exactly the one-shot gram table, and
    train_backoff_lm(counts=store) reproduces train-from-corpus
    bit-for-bit for all three smoothing variants — the
    corpus-scan-free retraining loop."""
    import time as _time

    from metalpipe_spark.operators.text import (
        ngram_count_table,
        train_backoff_lm,
    )
    from metalpipe_spark.streaming.streams import (
        file_watchdog,
        load_ngram_counts,
        stream_ngram_count_sink,
    )

    docs = spark.createDataFrame(
        [(i, f"the cat c{i % 3} sat on the mat") for i in range(6)],
        ["doc_id", "text"],
    )
    src = tmp_path / "docs"
    for lo in range(0, 6, 2):
        docs.where(
            f"doc_id >= {lo} and doc_id < {lo + 2}"
        ).coalesce(1).write.mode("append").parquet(str(src))
        _time.sleep(1.05)
    monkeypatch.setattr(streams, "_FOLD_FAN_IN", 2)
    stream_ngram_count_sink(
        file_watchdog(
            spark, str(src), "doc_id long, text string",
            max_files_per_trigger=1,
        ),
        str(tmp_path / "store"), str(tmp_path / "ckpt"), n=2,
    ).awaitTermination()
    counts = load_ngram_counts(spark, str(tmp_path / "store"))
    got = sorted(
        (r["order"], r["ngram"], r["n_count"]) for r in counts.collect()
    )
    want = sorted(
        (r["order"], r["ngram"], r["n_count"])
        for r in ngram_count_table(docs, 2).collect()
    )
    assert got == want
    for smoothing in ("absolute", "kn", "mkn"):
        disc = "ney" if smoothing == "mkn" else 0.75
        a = {
            (r["order"], r["ngram"]): (r["prob"], r["backoff"])
            for r in train_backoff_lm(
                counts=counts, n=2, discount=disc, smoothing=smoothing
            ).collect()
        }
        b = {
            (r["order"], r["ngram"]): (r["prob"], r["backoff"])
            for r in train_backoff_lm(
                docs, n=2, discount=disc, smoothing=smoothing
            ).collect()
        }
        assert a == b, smoothing
    # exactly-one-source validation
    import pytest

    with pytest.raises(ValueError, match="exactly one"):
        train_backoff_lm(docs, counts=counts)
    with pytest.raises(ValueError, match="exactly one"):
        train_backoff_lm()


def test_restart_on_spark_default_checkpoint_resumes_state(spark, tmp_path):
    """A stateful query checkpointed under Spark's own defaults
    (FileContext checkpoint manager, HDFS-backed state store) resumes
    under the engine session (FileSystem manager, RocksDB default): the
    provider class is persisted in the offset log and the checkpoint's
    value wins, so the dedup state is read back, batch ids continue and
    no key is emitted twice."""
    import datetime as dt
    import json

    from tests.conftest import checkpoint_manager_class

    t0 = dt.datetime(2024, 1, 1)
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    hdfs = (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    )
    spark_defaults = {
        "spark.sql.streaming.stateStore.providerClass": hdfs,
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileContextBasedCheckpointFileManager"
        ),
    }

    def add_file(rows):
        spark.createDataFrame(
            [(k, t0 + dt.timedelta(seconds=s)) for k, s in rows],
            "k string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(str(src))

    def run() -> list[tuple[int, list[str]]]:
        seen = []

        def capture(batch_df, batch_id):
            seen.append((batch_id, sorted(r["k"] for r in batch_df.collect())))

        stream = file_watchdog(spark, str(src), "k string, ts timestamp")
        deduped = deduplicate_stream(stream, ["k"], "ts", watermark="1 hour")
        foreach_batch_sink(deduped, capture, str(ckpt)).awaitTermination()
        return seen

    add_file([("a", 0), ("b", 1), ("c", 2), ("a", 3)])
    before = {k: spark.conf.get(k) for k in spark_defaults}
    try:
        for k, v in spark_defaults.items():
            spark.conf.set(k, v)
        assert "FileContext" in checkpoint_manager_class(spark, ckpt)
        first = run()
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert "RocksDB" in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    assert "FileSystemBased" in checkpoint_manager_class(spark, ckpt)

    add_file([("b", 4), ("c", 5), ("d", 6), ("e", 7)])
    second = run()

    emitted = [k for _, keys in first + second for k in keys]
    assert sorted(emitted) == ["a", "b", "c", "d", "e"]
    first_ids, second_ids = [b for b, _ in first], [b for b, _ in second]
    assert second_ids[0] == first_ids[-1] + 1
    assert second_ids == list(range(second_ids[0], second_ids[0] + len(second)))
    last_offsets = (ckpt / "offsets" / str(second_ids[-1])).read_text()
    metadata = json.loads(last_offsets.splitlines()[1])
    assert metadata["conf"]["spark.sql.streaming.stateStore.providerClass"] == hdfs
