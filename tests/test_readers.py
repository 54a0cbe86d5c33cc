"""``sources.readers.read_parquet``: the schema Spark infers for a table
file is inferred once per stat fingerprint and schema conf, never for a
directory."""

from __future__ import annotations

import inspect
import sys
import threading
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from metalpipe_spark.sources import readers
from metalpipe_spark.sources.readers import read_parquet

_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _jobs_of(spark, fn):
    """``(fn(), the number of Spark jobs fn started)``."""
    before = _next_job(spark)
    out = fn()
    return out, _next_job(spark) - before


def test_repeat_read_of_unchanged_file_starts_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    first, first_jobs = _jobs_of(spark, lambda: read_parquet(spark, path))
    second, second_jobs = _jobs_of(spark, lambda: read_parquet(spark, path))
    assert first_jobs == 1
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "extra": [0.5, 1.5]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "extra"]
    assert sorted(df.collect()) == [(1, 0.5), (2, 1.5)]


def test_schema_conf_is_part_of_the_key(spark, tmp_path):
    """A ``timestamp`` without a time zone reads as ``timestamp_ntz`` or
    ``timestamp`` by ``inferTimestampNTZ.enabled``, on one unchanged
    file."""
    path = str(tmp_path / "ts.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([0, 1_000_000], pa.timestamp("us"))}), path
    )
    prev = spark.conf.get(_NTZ, None)
    try:
        seen = []
        for value in ("true", "false", "true", "false"):
            spark.conf.set(_NTZ, value)
            seen.append(dict(read_parquet(spark, path).dtypes)["ts"])
        assert seen == ["timestamp_ntz", "timestamp"] * 2
    finally:
        if prev is None:
            spark.conf.unset(_NTZ)
        else:
            spark.conf.set(_NTZ, prev)


def test_directory_is_inferred_on_every_read(spark, tmp_path):
    table = tmp_path / "table"
    table.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(table / "part-0.parquet"))
    entries = len(readers._schema_cache)
    for _ in range(2):
        df, jobs = _jobs_of(spark, lambda: read_parquet(spark, str(table)))
        assert jobs == 1
        assert df.columns == ["a"]
    assert len(readers._schema_cache) == entries


def test_oldest_entry_is_evicted_at_the_cap(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(readers, "_schema_cache", OrderedDict())
    monkeypatch.setattr(readers, "_SCHEMA_CACHE_SIZE", 2)
    paths = []
    for name in "abc":
        paths.append(str(tmp_path / f"{name}.parquet"))
        pq.write_table(pa.table({name: [1]}), paths[-1])
        read_parquet(spark, paths[-1])
    assert len(readers._schema_cache) == 2
    _, jobs_c = _jobs_of(spark, lambda: read_parquet(spark, paths[2]))
    _, jobs_a = _jobs_of(spark, lambda: read_parquet(spark, paths[0]))
    assert (jobs_c, jobs_a) == (0, 1)


def test_concurrent_reads_keep_the_cap_and_the_schemas(spark, tmp_path, monkeypatch):
    """More threads than cores, each reading its own files twice, with a
    cap smaller than the number of files: every read sees its own
    file's columns and the cache never outgrows the cap."""
    monkeypatch.setattr(readers, "_schema_cache", OrderedDict())
    monkeypatch.setattr(readers, "_SCHEMA_CACHE_SIZE", 3)
    files = {}
    for i in range(16):
        path = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i]}), path)
        files[path] = [f"c{i}"]
    paths = list(files)
    errors, sizes = [], []

    def worker(mine):
        try:
            for path in mine * 2:
                if read_parquet(spark, path).columns != files[path]:
                    errors.append(path)
                with readers._schema_lock:
                    sizes.append(len(readers._schema_cache))
        except Exception as e:  # reported below
            errors.append(repr(e))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=worker, args=(paths[i::8],)) for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(sizes) == 32 and max(sizes) <= 3


def test_missing_path_raises_what_spark_raises(spark, tmp_path):
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "missing.parquet")
    conditions = []
    for read in (lambda: spark.read.parquet(path), lambda: read_parquet(spark, path)):
        with pytest.raises(AnalysisException) as err:
            read()
        conditions.append(err.value.getCondition())
    assert conditions == ["PATH_NOT_FOUND"] * 2


def test_table_readers_go_through_read_parquet():
    """No bare ``spark.read.parquet(`` in the table-file readers: each
    would start a schema job on every call."""
    from metalpipe_spark.catalog.streaming_queries import _events_stream
    from metalpipe_spark.plans.pipeline import _parquet_reader

    for fn in (readers.load_table, _parquet_reader, _events_stream):
        src = inspect.getsource(fn)
        assert "spark.read.parquet(" not in src, fn.__name__
        assert "read_parquet(spark, " in src, fn.__name__
