"""Capture .explain("formatted") for catalog queries into a directory.

Usage: python scripts/capture_plans.py OUT_DIR [--suffix _before|_after]
                                       [--only q_a,q_b,...] [sf_dir]

Writes OUT_DIR/<query><suffix>.txt per row — the optimization rounds'
plan-evidence artifact (plans/r17/...).  Builders that execute jobs at
plan-construction time (streaming rows run their availableNow stream,
split/collect rows run cell-scale jobs) still produce a meaningful
batch plan: the captured text is the plan of the DataFrame the bench
drains.  Plans are captured on the engine session (metalpipe defaults),
same as bench.py times them.

The ids Spark hands out per process (``#N`` expression ids,
``plan_id=N`` exchange ids, ``RDD[N]`` ids, the counter in PySpark's
lambda variable names ``x_N``) are normalised to ``N`` in the written
text, and the file:line of an RDD's call site (``NativeMethodAccessorImpl
.java:0`` in one process, ``<unknown>:0`` in the next) to ``<site>``, so
two captures of one commit diff clean and a before/after diff shows only
real plan changes.
"""

from __future__ import annotations

import io
import os
import re
import sys
import contextlib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_PROCESS_IDS = re.compile(r"(#|plan_id=|RDD\[|\blambda \w+_)\d+")
_RDD_CALL_SITE = re.compile(r"(RDD\[N\] at \S+ at )\S+:\d+")


def normalise_plan(text: str) -> str:
    """``text`` with every per-process id replaced by ``N`` and every RDD
    call site's file:line by ``<site>``."""
    return _RDD_CALL_SITE.sub(r"\1<site>", _PROCESS_IDS.sub(r"\1N", text))


def main() -> int:
    argv = sys.argv[1:]
    only = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2 :]
    suffix = ""
    if "--suffix" in argv:
        i = argv.index("--suffix")
        suffix = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if not argv:
        print(__doc__)
        return 2
    out_dir = argv[0]
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)

    from metalpipe_spark.session import get_spark
    from metalpipe_spark.catalog import load_all

    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    names = [n for n in sorted(registry) if only is None or n in only]
    failures = 0
    for name in names:
        try:
            df = registry[name].build(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            text = normalise_plan(buf.getvalue())
        except Exception as e:  # a broken row must not kill the capture
            text = f"CAPTURE ERROR: {type(e).__name__}: {e}\n"
            failures += 1
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(text)
        print(f"captured {name} ({len(text)} bytes)")
        spark.catalog.clearCache()
    print(f"---- {len(names)} plans -> {out_dir} ({failures} capture errors)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
