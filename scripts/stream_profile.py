"""Decompose the streaming catalog rows' cost into micro-batch WORK vs
LIFECYCLE (VERDICT r11 task 3): q_stream_stats and q_stream_window_daily
drifted ~+40% solo-idle across r10→r11 with no plan change, and
"overhead-dominated" needed to become a measurement, not a hypothesis.

Per streaming row, a StreamingQueryListener captures every micro-batch's
``durationMs`` (``monitoring.attach_streaming_progress``):

  - work      = Σ addBatch            (executing the batch's plan)
  - lifecycle = Σ (triggerExecution - addBatch)
                (offset tracking, batch planning, WAL commit, state
                 commit — the per-batch fixed cost)
  - outside   = wall - Σ triggerExecution
                (session-side: stream definition, checkpoint init,
                 query start/stop, result readback)

At sf0.1 the lifecycle+outside share is the whole story for the ~1 s
rows — the table this prints is committed to BENCH_NOTES.md so future
regression scans can arbitrate "overhead vs plan" mechanically.

Usage: python scripts/stream_profile.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STREAM_ROWS = [
    "q_stream_window_daily",
    "q_stream_stats",
    "q_stream_dedup",
    "q_stream_join",
    "q_session_windows",
    "q_stream_corpus",
    "q_stream_dsir",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from metalpipe_spark.catalog import load_all
    from metalpipe_spark.monitoring import attach_streaming_progress
    from metalpipe_spark.session import get_spark

    spark = get_spark(
        app_name="stream-profile", conf={"spark.sql.shuffle.partitions": "32"}
    )
    registry = load_all()
    sink: list[dict] = []
    attach_streaming_progress(spark, sink)

    print(f"{'row':24} {'wall_s':>7} {'work_s':>7} {'life_s':>7} "
          f"{'outside_s':>9} {'batches':>7} {'nonwork%':>8}")
    rows_md = []
    for name in STREAM_ROWS:
        q = registry[name]
        # Warm-up pass: first execution pays session-wide costs (codegen
        # compile, parquet footer reads, state-store class init) that the
        # bench's median-of-3 also amortizes — profile the WARM run.
        q.build(spark, sf_dir).collect()
        sink.clear()
        t0 = time.perf_counter()
        df = q.build(spark, sf_dir)
        df.collect()
        wall = time.perf_counter() - t0
        time.sleep(1.0)  # listener events are async; let the tail land
        trig = sum(e["durationMs"].get("triggerExecution", 0) for e in sink)
        work = sum(e["durationMs"].get("addBatch", 0) for e in sink)
        life = (trig - work) / 1000.0
        work_s = work / 1000.0
        outside = max(0.0, wall - trig / 1000.0)
        pct = 100.0 * (life + outside) / wall if wall else 0.0
        print(f"{name:24} {wall:7.2f} {work_s:7.2f} {life:7.2f} "
              f"{outside:9.2f} {len(sink):7d} {pct:5.0f}%")
        rows_md.append(
            f"| {name} | {wall:.2f} | {work_s:.2f} | {life:.2f} | "
            f"{outside:.2f} | {len(sink)} | {pct:.0f}% |"
        )
    print()
    print("| row | wall s | work s (addBatch) | lifecycle s | "
          "outside s | batches | non-work % |")
    print("|---|---|---|---|---|---|---|")
    for r in rows_md:
        print(r)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
