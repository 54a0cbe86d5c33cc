"""Measure the delta-segment store publish (r16, VERDICT r15 task 1):
stream the sf1 documents through `stream_exact_substr_sink` in K
micro-batches and record each batch's triggerExecution, side by side
with a reconstructed FULL-REWRITE baseline (the pre-r16 behavior:
`step` returns store ∪ delta and the sink writes the whole store into
every version directory).

What the numbers must show: under full rewrite, per-batch time GROWS
with the accumulated store (the write is O(total windows seen)); under
delta segments it stays ~flat (O(batch)).  The last-batch ratio is the
headline — at 100 TB the store is token-scale and the full rewrite,
not the dedup, is the bill (SCALING.md batch-10 addendum's finding,
now fixed).

Usage: python scripts/xs_store_write_profile.py [sf_dir] [K] [sink]
       (defaults: .scaling/sf1, 8 batches, sink=exact_substr;
        sink=semantic profiles stream_semantic_dedup_sink over the
        embeddings table instead — its store is VECTOR-scale, so the
        full-rewrite baseline pays an embedding-array write per
        surviving vector per trigger)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(REPO, ".scaling", "sf1")
    )
    K = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    sink_kind = sys.argv[3] if len(sys.argv) > 3 else "exact_substr"
    from pyspark.sql import functions as F

    from metalpipe_spark.monitoring import attach_streaming_progress
    from metalpipe_spark.operators.dedup import incremental_exact_substr
    from metalpipe_spark.operators.similarity import (
        deterministic_centroids,
        incremental_semantic_dedup,
    )
    from metalpipe_spark.session import get_spark
    from metalpipe_spark.streaming.streams import (
        _incremental_store_sink,
        file_watchdog,
        stream_exact_substr_sink,
        stream_semantic_dedup_sink,
    )

    spark = get_spark(
        app_name="xs-store-write-profile", conf={"spark.sql.shuffle.partitions": "32"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    if sink_kind == "semantic":
        src_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        id_col = "vec_id"
        cents = deterministic_centroids(8, 64)

        def delta_sink(df, kept, store_path, ckpt):
            return stream_semantic_dedup_sink(
                df, cents, kept, store_path, ckpt, threshold=0.25
            )

        def full_rewrite_sink(df, kept, store_path, ckpt):
            def step(batch_df, store):
                return incremental_semantic_dedup(
                    batch_df, store, cents, threshold=0.25
                )

            return _incremental_store_sink(
                df, kept, store_path, ckpt, step, append_only=False
            )

    else:
        src_df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        id_col = "doc_id"
        delta_sink = stream_exact_substr_sink

        def full_rewrite_sink(df, kept, store_path, ckpt):
            # The pre-r16 behavior, reconstructed: full store into every
            # version dir, geometry re-checked per batch.
            def step(batch_df, store):
                return incremental_exact_substr(
                    batch_df, store, with_cleanup=True
                )

            return _incremental_store_sink(
                df, kept, store_path, ckpt, step, append_only=False
            )

    tmp = tempfile.mkdtemp(prefix="xs_prof_")
    src = f"{tmp}/src"
    # K files in modulo slices; mtime spacing pins arrival order.
    for i in range(K):
        src_df.where(F.col(id_col) % K == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.05)
    docs = src_df

    results = {}
    for mode, launch in (
        ("delta", delta_sink),
        ("full-rewrite", full_rewrite_sink),
    ):
        progress: list[dict] = []
        attach_streaming_progress(spark, progress)
        stream = file_watchdog(
            spark, src, docs.schema, max_files_per_trigger=1
        )
        base = f"{tmp}/{mode}"
        t0 = time.time()
        launch(
            stream, f"{base}/kept", f"{base}/store", f"{base}/ckpt"
        ).awaitTermination()
        wall = time.time() - t0
        time.sleep(1.0)  # listener events are async
        per_batch = [
            (p["batchId"], (p.get("durationMs") or {}).get("triggerExecution"))
            for p in progress
            if p.get("numInputRows")
        ]
        per_batch.sort()
        results[mode] = (wall, per_batch)
        print(f"{mode}: wall {wall:.1f}s")
        for bid, ms in per_batch:
            print(f"  batch {bid}: {ms} ms")
    d_w, d_b = results["delta"]
    f_w, f_b = results["full-rewrite"]
    if d_b and f_b:
        print(
            f"last-batch full/delta ratio: "
            f"{(f_b[-1][1] or 0) / max(d_b[-1][1] or 1, 1):.2f}x; "
            f"wall full/delta: {f_w / d_w:.2f}x"
        )
    shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
