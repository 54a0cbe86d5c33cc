"""Skew-hardening measurement (VERDICT r10 task 5): time the hot-key
catalog rows on the UNIFORM sf0.1 corpus and on the Zipf-host /
boilerplate-heavy skew fixture (scripts/make_skew_fixture.py), and
print the ratio per query.  The gate SCALING.md records: no query may
exceed 3x its uniform-key time under skew.

Timing protocol matches bench.py (xxhash64 checksum drain, cache
cleared between runs, median of N).

Usage:  python scripts/skew_bench.py [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

UNIFORM = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SKEWED = os.path.join(REPO, ".scaling", "skew_sf0.1")

# The rows whose shuffles key on host / canonical URL / chunk md5 —
# the keys the fixture makes hot.
QUERIES = [
    "q_domain_stats",
    "q_host_filter",
    "q_url_dedup",
    "q_paragraph_dedup",
    "q_boilerplate_removal",
    # round-11 rows whose shuffles key on gram-hash buckets / scores —
    # the banner makes a handful of gram buckets hot
    "q_dsir_weights",
    "q_ccnet_buckets",
    # round-15 row (VERDICT r14 task 2): the 32-token banner IS a
    # duplicated window run for exact_substr (min_length 12 at this
    # row's setting), so the duplicated-window groupBy and the
    # join-back at operators/dedup.py (_window keys) go maximally hot —
    # the skew-sensitive stage under boilerplate-heavy corpora.
    "q_exact_substr",
    # round-16 row: the backoff trainer's gram count keys (order, ngram)
    # and the context denominator keys the gram PREFIX — the banner
    # makes one context and a run of bigrams maximally hot.
    "q_train_backoff_lm",
    # round-17 row: the KN trainer adds a continuation-count aggregate
    # keyed by the gram's dropped-first-word SUFFIX — the banner makes
    # a run of suffixes hot on top of the r16 gram/context keys.
    "q_train_kn_lm",
]


def main() -> int:
    runs = 3
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        unknown = only - set(QUERIES)
        if unknown:
            print(f"--only names not in QUERIES: {sorted(unknown)}")
            return 2
    if not os.path.exists(os.path.join(SKEWED, "documents.parquet")):
        print("skew fixture missing — run scripts/make_skew_fixture.py first")
        return 2

    from pyspark.sql import functions as F

    from metalpipe_spark.session import get_spark

    spark = get_spark(
        app_name="skew-bench", conf={"spark.sql.shuffle.partitions": "32"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    from metalpipe_spark.catalog import load_all

    reg = load_all()

    from metalpipe_spark.catalog.dedup import clear_shared_stages

    def median_time(name: str, sf_dir: str) -> float:
        samples = []
        for _ in range(runs):
            spark.catalog.clearCache()
            clear_shared_stages()  # memoized family stages must re-pay
            t0 = time.perf_counter()
            df = reg[name].build(spark, sf_dir)
            df.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64(*df.columns)).alias("checksum"),
            ).collect()
            samples.append(time.perf_counter() - t0)
        return sorted(samples)[len(samples) // 2]

    out = {}
    worst = 0.0
    for name in QUERIES:
        if only is not None and name not in only:
            continue
        tu = median_time(name, UNIFORM)
        ts = median_time(name, SKEWED)
        ratio = ts / tu
        worst = max(worst, ratio)
        out[name] = {
            "uniform_s": round(tu, 3),
            "skew_s": round(ts, 3),
            "ratio": round(ratio, 2),
        }
        print(f"{name}: uniform {tu:.2f}s  skew {ts:.2f}s  ratio {ratio:.2f}x")
    print(json.dumps({"skew_bench": out, "worst_ratio": round(worst, 2),
                      "runs": runs, "gate": "<= 3.0x"}))
    return 0 if worst <= 3.0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
