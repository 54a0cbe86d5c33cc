"""Session defaults that the engine relies on but no query result shows."""

from __future__ import annotations

import os

from metalpipe_spark import session
from tests.conftest import checkpoint_manager_class

_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_HEAP_CONF = "spark.driver.memory"
_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_local_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """Spark resolves the local session's streaming checkpoint manager to
    the FileSystem-based class: a Spark upgrade that moves or renames it
    fails here, not in every streaming test."""
    assert checkpoint_manager_class(spark, tmp_path) == _FS_MANAGER


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the conf it is
    given instead of starting a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, url):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def _built_conf(monkeypatch, **kwargs) -> dict[str, str]:
    builder = _RecordingBuilder()

    class _Session:
        @staticmethod
        def getActiveSession():
            return None

    _Session.builder = builder
    monkeypatch.setattr(session, "SparkSession", _Session)
    assert session.get_spark(**kwargs) is builder
    return builder.conf


def test_checkpoint_manager_default_is_local_only_and_overridable(monkeypatch):
    assert _built_conf(monkeypatch, master="local[2]")[_MANAGER_CONF] == (
        _FS_MANAGER
    )
    # A cluster master keeps Spark's own default manager.
    assert _MANAGER_CONF not in _built_conf(
        monkeypatch, master="spark://host:7077"
    )
    # A caller's conf= still wins over the local default.
    mine = "org.example.MyCheckpointFileManager"
    assert (
        _built_conf(monkeypatch, master="local[2]", conf={_MANAGER_CONF: mine})[
            _MANAGER_CONF
        ]
        == mine
    )


def test_local_driver_heap_defaults_to_half_of_host_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    sizes = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
    for host_gib, heap in ((15, "7680m"), (64, "16384m")):  # cap: 16 GiB
        sizes["SC_PHYS_PAGES"] = (host_gib << 30) // 4096
        assert _built_conf(monkeypatch, master="local[2]")[_HEAP_CONF] == heap
    # The environment variable still wins.
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _built_conf(monkeypatch, master="local[2]")[_HEAP_CONF] == "3g"
    # A cluster master gets no heap from the engine.
    assert _HEAP_CONF not in _built_conf(monkeypatch, master="spark://host:7077")
