"""scripts/capture_plans.py's per-process id normalisation."""

from __future__ import annotations

import importlib.util
import os

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "capture_plans.py",
)


def test_normalise_plan_masks_process_ids_only():
    """Expression, exchange and RDD ids become ``N``; operator ids,
    codegen ids, partition counts and literals are left alone."""
    spec = importlib.util.spec_from_file_location("capture_plans", _SCRIPT)
    cp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cp)
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
        "localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD\n"
        "Arguments: hashpartitioning(l_returnflag#N, 32), "
        "ENSURE_REQUIREMENTS, [plan_id=N]\n"
        "Condition : (isnotnull(v#N) AND (v#N > 12))\n"
    )
