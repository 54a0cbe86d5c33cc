"""Measure the size-tiered segment fold (r17, VERDICT r16 task 3):
stream N tiny document batches through `stream_exact_substr_sink`
(one file = one micro-batch) and tally the bytes every batch writes
into the store — delta segments AND fold outputs — via an
instrumented `_tiered_fold`.

What the numbers must show: per-byte write amplification BOUNDED as
the stream ages.  Under the old every-K full fold, each fold rewrote
the WHOLE store, so cumulative store-write bytes grow ~quadratically
with stream length (amortized O(|store|/K) per batch, |store| itself
growing); under the tiered fold a byte is rewritten only when its
segment climbs a power-of-two tier — ~log_{fan_in}(N) times total —
so cumulative bytes stay ~N·log(N)·delta.  The script reports the
measured amplification (total bytes written / final store bytes),
the same-deltas ANALYTICAL cost of the old every-K rule for
comparison, and the live segment count (reader fan-in), which must
stay ~fan_in x tiers, not grow with N.

Usage: python scripts/tiered_fold_profile.py [N_batches] [fan_in]
       (defaults: 120 batches, fan_in=4)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    fan_in = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    import metalpipe_spark.streaming.streams as S
    from metalpipe_spark.session import get_spark

    spark = get_spark(
        app_name="tiered-fold-profile", conf={"spark.sql.shuffle.partitions": "8"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="tiered_prof_")
    real_fold, real_fan_in = S._tiered_fold, S._FOLD_FAN_IN
    try:
        return _profile(spark, S, tmp, n_batches, fan_in, real_fold)
    finally:
        S._tiered_fold, S._FOLD_FAN_IN = real_fold, real_fan_in
        shutil.rmtree(tmp, ignore_errors=True)


def _profile(spark, S, tmp: str, n_batches: int, fan_in: int, real_fold) -> int:
    src = f"{tmp}/src"
    store_path = f"{tmp}/store"
    # One file per batch; every doc is all-new windows so each delta
    # has ~equal size (the steady-state crawl shape).
    for i in range(n_batches):
        text = " ".join(f"b{i}t{j}" for j in range(40))
        spark.createDataFrame(
            [(i, text)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    # Instrument: after each batch's _tiered_fold returns, every dir
    # this batch created (delta + fold outputs) is still on disk —
    # their sizes ARE the batch's store-write bytes.
    per_batch: list[dict] = []

    def wrapped(spark_, fs, hpath, dst, sp, data_files, parts,
                version, k, created, **kw):
        v, p = real_fold(
            spark_, fs, hpath, dst, sp, data_files, parts, version,
            k, created, **kw,
        )
        delta_dir = sorted(created)[0]
        per_batch.append(
            {
                "written": sum(
                    _dir_bytes(os.path.join(sp, d)) for d in created
                ),
                "delta": _dir_bytes(os.path.join(sp, delta_dir)),
                "folds": len(created) - 1,
                "live_segments": len(p),
            }
        )
        return v, p

    S._tiered_fold = wrapped
    S._FOLD_FAN_IN = fan_in
    t0 = time.time()
    S.stream_exact_substr_sink(
        S.file_watchdog(
            spark, src, "doc_id long, text string",
            max_files_per_trigger=1,
        ),
        f"{tmp}/kept", store_path, f"{tmp}/ckpt", min_length=6,
    ).awaitTermination()
    wall = time.time() - t0

    print(
        f"{n_batches} batches, fan_in={fan_in}, wall {wall:.1f}s"
    )
    # The first batch publishes a full store version without a fold, so
    # only later batches are tallied.
    if not per_batch:
        print("no batch after the first: nothing to tally")
        return 0
    total_written = sum(b["written"] for b in per_batch)
    final_store = _dir_bytes(store_path)
    deltas = [b["delta"] for b in per_batch]
    # Analytical old every-K rule over the SAME deltas: every K-th
    # batch writes the full accumulated store instead of its delta.
    old_total, acc = 0, 0
    for i, d in enumerate(deltas):
        acc += d
        if (i + 1) % fan_in == 0:
            old_total += acc  # full fold
        else:
            old_total += d  # plain delta
    print(
        f"tiered: total store-write {total_written / 1e6:.1f} MB, "
        f"final store {final_store / 1e6:.1f} MB, "
        f"amplification {total_written / max(final_store, 1):.2f}x"
    )
    print(
        f"old every-K (analytical, same deltas): "
        f"{old_total / 1e6:.1f} MB = "
        f"{old_total / max(final_store, 1):.2f}x amplification -> "
        f"tiered saves {old_total / max(total_written, 1):.2f}x"
    )
    segs = [b["live_segments"] for b in per_batch]
    # Quartiles of the batch sequence; with fewer than 4 tallied
    # batches some quartiles are empty and are left out.
    quarters = [segs[len(segs) * i // 4:len(segs) * (i + 1) // 4] for i in range(4)]
    print(
        f"live segments: max {max(segs)}, last {segs[-1]}, "
        f"quartile means "
        f"{[round(sum(c) / len(c), 1) for c in quarters if c]}"
    )
    fold_batches = [i for i, b in enumerate(per_batch) if b["folds"]]
    print(
        f"fold batches: {len(fold_batches)}/{len(per_batch)} "
        f"(largest single-batch write "
        f"{max(b['written'] for b in per_batch) / 1e6:.2f} MB)"
    )
    return 0

if __name__ == "__main__":
    raise SystemExit(main())
