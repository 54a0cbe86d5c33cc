"""Lineage checkpoints (``metalpipe_spark.materialize``): the engine's one
materialization point, and what it buys when executors lose their blocks.

The fault tests build a catalog row, then remove the blocks of every RDD
persisted since the module started — what losing every executor right
after the build does — and drain.  With a session checkpoint dir the
checkpoints are reliable files, so the drain must still give the clean
run's ``(count, checksum)``; without one they are executor-local blocks,
and the drain must fail loudly rather than answer wrongly.
"""

from __future__ import annotations

import inspect
import os
import re

import pytest
from pyspark.sql import functions as F

from metalpipe_spark.catalog import _scratch_result, load_all
from metalpipe_spark.catalog.dedup import clear_shared_stages
from metalpipe_spark.materialize import release
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROWS = [
    "q_dedup_clusters",
    "q_host_rank",
    "q_incremental_semdedup_scaled",
    "q_wet_roundtrip",
]


def _engine_lines(*parts: str):
    """``(path, line_no, line)`` for every line of the ``.py`` files
    under ``metalpipe_spark/<parts>``."""
    for root, _, files in os.walk(os.path.join(REPO, "metalpipe_spark", *parts)):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    for no, line in enumerate(f, 1):
                        yield path, no, line


def test_no_checkpoint_outside_materialize():
    """Every engine checkpoint goes through ``materialize``, so one
    module decides local vs reliable."""
    call = re.compile(r"localCheckpoint\(|\.checkpoint\(")
    found = [
        f"{os.path.relpath(path, REPO)}:{no}"
        for path, no, line in _engine_lines()
        if call.search(line) and os.path.basename(path) != "materialize.py"
    ]
    assert not found, f"checkpoint calls outside materialize.py: {found}"


def test_no_scratch_copy_outside_scratch_result():
    """Catalog rows that stage data in a scratch dir go through
    ``_scratch_result``: none makes its own dir or copies its result
    through the driver to outlive one."""
    call = re.compile(r"tempfile\.mkdtemp\(|createDataFrame\(rows")
    lines, first = inspect.getsourcelines(_scratch_result)
    helper = inspect.getsourcefile(_scratch_result)
    found = [
        f"{os.path.relpath(path, REPO)}:{no}"
        for path, no, line in _engine_lines("catalog")
        if call.search(line)
        and not (path == helper and first <= no < first + len(lines))
    ]
    assert not found, f"scratch dirs outside _scratch_result: {found}"


def test_scratch_result_outlives_its_dir(spark):
    dirs = []

    def run(tmp):
        dirs.append(tmp)
        spark.range(5).write.parquet(f"{tmp}/t")
        return spark.read.parquet(f"{tmp}/t")

    def fail(tmp):
        dirs.append(tmp)
        raise RuntimeError("run failed")

    df = _scratch_result("mps_test_", run)
    assert not os.path.exists(dirs[0])
    assert sorted(r.id for r in df.collect()) == list(range(5))
    release(df)
    with pytest.raises(RuntimeError, match="run failed"):
        _scratch_result("mps_test_", fail)
    assert not os.path.exists(dirs[1])


def _drain(df) -> tuple[int, int]:
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("checksum"),
    ).collect()[0]
    return r["n"], r["checksum"]


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _build(spark, name: str):
    clear_shared_stages()
    spark.catalog.clearCache()
    return load_all()[name].build(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def clean(spark):
    """``(baseline, drains)``: the RDDs persisted before this module ran,
    and each row's drain from a clean run in the default (local) mode.
    Teardown frees what the module's runs left persisted."""
    assert spark.sparkContext.getCheckpointDir() is None
    baseline = _persistent(spark)
    drains = {name: _drain(_build(spark, name)) for name in ROWS}
    yield baseline, drains
    clear_shared_stages()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in _persistent(spark) - baseline:
        rdds[rdd_id].unpersist(False)


def _lose_blocks(spark, baseline: set[int]) -> None:
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    master = env.blockManager().master()
    for rdd_id in _persistent(spark) - baseline:
        master.removeRdd(rdd_id, True)


@pytest.mark.parametrize("name", ROWS)
def test_reliable_checkpoints_survive_lost_blocks(
    spark, clean, reliable_checkpoints, name
):
    baseline, drains = clean
    before = _persistent(spark)
    df = _build(spark, name)
    assert not _persistent(spark) - before, "the build persisted blocks"
    found = [
        d
        for _, dirs, _ in os.walk(reliable_checkpoints)
        for d in dirs
        if d.startswith("rdd-")
    ]
    assert found, "no rdd-* checkpoint directories written"
    _lose_blocks(spark, baseline)
    assert _drain(df) == drains[name]


# q_host_rank is not here: its drain still answers after removeRdd in
# local mode, so there is no failure to pin.
@pytest.mark.parametrize(
    "name", ["q_dedup_clusters", "q_incremental_semdedup_scaled", "q_wet_roundtrip"]
)
def test_local_checkpoints_fail_loudly_on_lost_blocks(spark, clean, name):
    baseline, _ = clean
    df = _build(spark, name)
    _lose_blocks(spark, baseline)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        _drain(df)
