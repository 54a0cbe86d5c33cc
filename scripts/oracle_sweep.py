"""Run the driver's correctness gate locally: every catalog row's Spark
plan vs its DuckDB oracle at a chosen scale factor (default sf0.01, the
driver's setting; the pytest suite gates at sf0.001).

Usage:  python scripts/oracle_sweep.py [sf_dir] [--only q_a,q_b,...] [--ansi]
                                       [--json PATH]

--json PATH additionally writes a machine-readable per-row record
(status + rows compared) — round_close.py merges the normal and --ansi
runs into the committed SWEEP_r{N}.json artifact, so full-catalog
correctness is auditable from the repo without re-running the sweep
(the driver's own sample covers the alphabetical head-50 only).

--ansi runs the Spark side with spark.sql.ansi.enabled=true (Spark 4's
default posture): same oracles, strict overflow/cast semantics — a
query that relies on silent wrapping or lenient casts fails loudly
here instead of diverging from the oracle at scale.

The session comes from ``metalpipe_spark.session.get_spark``, so both
modes run the engine's own defaults (RocksDB state store, the local
streaming checkpoint manager); the sweep's shuffle-partition, UI,
timezone and ANSI settings are passed as overrides.

Prints one PASS/FAIL line per row using the same comparator as
tests/oracle_utils (sorted columns, order-insensitive row compare,
driver strictness checks), and exits non-zero on any failure.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    argv = sys.argv[1:]
    only: set[str] | None = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2 :]
    json_path: str | None = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("ERROR: --json requires a path argument")
            print(__doc__)
            return 2
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    ansi = "--ansi" in argv
    argv = [a for a in argv if a != "--ansi"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    from metalpipe_spark.session import get_spark

    spark = get_spark(
        app_name="oracle-sweep",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]",
        conf={
            "spark.sql.shuffle.partitions": "16",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.ansi.enabled": "true" if ansi else "false",
        },
    )
    if ansi:
        print("(ANSI mode: spark.sql.ansi.enabled=true)")
    spark.sparkContext.setLogLevel("ERROR")
    from metalpipe_spark.catalog import load_all
    from tests.oracle_utils import compare_with_oracle, duckdb_con

    reg = load_all()
    if only is not None:
        unknown = sorted(only - set(reg))
        if unknown:
            # A typo'd name must never report a green sweep for a row
            # that was never checked.
            print(f"ERROR: --only names not in the registry: {unknown}")
            return 2
    con = duckdb_con(sf_dir)
    bad = []
    rows: dict[str, dict] = {}
    for name in sorted(reg):
        if only is not None and name not in only:
            continue
        q = reg[name]
        if not q.oracle:
            print(f"SKIP {name} (no oracle)")
            rows[name] = {"status": "SKIP"}
            continue
        try:
            got, want = compare_with_oracle(q.build(spark, sf_dir), con, q.oracle)
            ok = got == want
        except Exception as ex:  # comparator/strictness/run error
            bad.append(name)
            print(f"ERR  {name}: {type(ex).__name__}: {str(ex)[:140]}")
            rows[name] = {
                "status": "ERR",
                "err": f"{type(ex).__name__}: {str(ex)[:140]}",
            }
            continue
        if not ok:
            bad.append(name)
        print(f"{'PASS' if ok else 'FAIL'} {name} ({len(got)} rows)")
        rows[name] = {"status": "PASS" if ok else "FAIL", "rows": len(got)}
    total = len(only) if only is not None else len(reg)
    # Honest SKIP accounting (r15 verdict): a rows-only row (no oracle)
    # is NOT oracle-green — report the split instead of folding it in.
    skipped = sum(1 for r in rows.values() if r.get("status") == "SKIP")
    oracle_total = total - skipped
    oracle_green = oracle_total - len(bad)
    if skipped:
        print(
            f"---- {oracle_green}/{oracle_total} oracle-green"
            f" + {skipped} rows-only (no oracle)"
        )
    else:
        print(f"---- {oracle_green}/{oracle_total} green")
    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "ansi": ansi,
                    "green": total - len(bad),
                    "total": total,
                    "oracle_green": oracle_green,
                    "oracle_total": oracle_total,
                    "rows_only": skipped,
                    "rows": rows,
                },
                f,
                sort_keys=True,
            )
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
