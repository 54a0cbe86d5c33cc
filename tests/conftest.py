from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("MPS_TEST_SF_DIR", "/root/testdata/sf0.001")


SLOW_MANIFEST = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt"
)


def _manifest_key(nodeid: str) -> str:
    """``<file basename>::<test id>`` — stable under different
    invocation directories/rootdirs.  Only the file path is reduced: a
    parametrized test id may itself contain ``/``."""
    path, sep, rest = nodeid.partition("::")
    return os.path.basename(path) + sep + rest


def _slow_manifest() -> set[str]:
    """Keys of the measured slow tier — data-driven marking (VERDICT
    r17 task 1) so the tiers are regenerable from a ``--durations=0``
    run instead of hand-maintained decorators."""
    out: set[str] = set()
    try:
        with open(SLOW_MANIFEST) as f:
            for ln in f:
                ln = ln.strip()
                if ln and not ln.startswith("#"):
                    out.add(_manifest_key(ln))
    except OSError:
        pass
    return out


def pytest_collection_modifyitems(config, items):
    slow = _slow_manifest()
    if not slow:
        return
    for item in items:
        if _manifest_key(item.nodeid) in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from metalpipe_spark.session import get_spark

    spark = get_spark(
        app_name="metalpipe-spark-tests",
        master="local[*]",
        conf={"spark.sql.shuffle.partitions": "32"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture
def reliable_checkpoints(spark, tmp_path):
    """Give the session a checkpoint dir for one test, so every engine
    checkpoint is written reliably (``metalpipe_spark.materialize``);
    yields the dir.  PySpark has no public way to unset the dir, so
    teardown puts the previous value back on the JVM SparkContext: a
    dir left behind would silently switch every later test in the
    session to reliable checkpoint files."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    prev = jsc.checkpointDir()
    ckdir = str(tmp_path / "checkpoints")
    sc.setCheckpointDir(ckdir)
    try:
        yield ckdir
    finally:
        getattr(jsc, "checkpointDir_$eq")(prev)
    assert sc.getCheckpointDir() is None


def checkpoint_manager_class(spark, directory) -> str:
    """The class Spark picks to write streaming checkpoints under the
    local ``directory`` with the session's current conf."""
    jvm = spark.sparkContext._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    created = manager.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(f"file://{directory}"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return created.getClass().getName()
