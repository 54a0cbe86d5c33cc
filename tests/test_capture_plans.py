"""scripts/capture_plans.py's per-process id normalisation."""

from __future__ import annotations

import importlib.util
import os

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "capture_plans.py",
)


def _load():
    spec = importlib.util.spec_from_file_location("capture_plans", _SCRIPT)
    cp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cp)
    return cp


def test_normalise_plan_masks_process_ids_only():
    """Expression, exchange and RDD ids become ``N``; operator ids,
    codegen ids, partition counts and literals are left alone."""
    cp = _load()
    plan = (
        "(3) Scan ExistingRDD [codegen id : 1]\n"
        "Arguments: [o_orderkey#10549L], MapPartitionsRDD[1755] at "
        "localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD\n"
        "Arguments: hashpartitioning(l_returnflag#8, 32), "
        "ENSURE_REQUIREMENTS, [plan_id=23046]\n"
        "Condition : (isnotnull(v#3) AND (v#3 > 12))\n"
    )
    assert cp.normalise_plan(plan) == (
        "(3) Scan ExistingRDD [codegen id : 1]\n"
        "Arguments: [o_orderkey#NL], MapPartitionsRDD[N] at "
        "localCheckpoint at <site>, ExistingRDD\n"
        "Arguments: hashpartitioning(l_returnflag#N, 32), "
        "ENSURE_REQUIREMENTS, [plan_id=N]\n"
        "Condition : (isnotnull(v#N) AND (v#N > 12))\n"
    )


def test_normalise_plan_masks_call_sites_and_lambda_names():
    """The two strings that differ between processes capturing one plan:
    an ``ExistingRDD``'s call-site file:line and the counter in a PySpark
    lambda variable's name."""
    cp = _load()

    def plan(site, var):
        return (
            f"Arguments: [v#7], MapPartitionsRDD[12] at localCheckpoint "
            f"at {site}, ExistingRDD\n"
            f"Input [1]: [transform(v#7, lambdafunction((lambda {var}#9 + 1), "
            f"lambda {var}#9, false)) AS w#8]\n"
        )

    one = cp.normalise_plan(plan("NativeMethodAccessorImpl.java:0", "x_11"))
    assert one == cp.normalise_plan(plan("<unknown>:0", "x_411"))
    assert one == (
        "Arguments: [v#N], MapPartitionsRDD[N] at localCheckpoint "
        "at <site>, ExistingRDD\n"
        "Input [1]: [transform(v#N, lambdafunction((lambda x_N#N + 1), "
        "lambda x_N#N, false)) AS w#N]\n"
    )
    # A multi-word argument name keeps its own underscores.
    assert cp.normalise_plan("lambda acc_val_12#3") == "lambda acc_val_N#N"
