"""Query catalog — the engine's oracle-checked capability surface.

Every operator family from SURVEY.md §2 (plus the large-scale
training-data operators) registers at least one named query here.  Each
entry pairs a Spark plan builder ``(spark, sf_dir) -> DataFrame`` with an
equivalent ANSI-SQL oracle string for DuckDB; the driver hash-compares
the two at sf0.01 (see ``__spark_entry__.py``).

Determinism rules (so value-hashes match across engines):
  * monetary/double aggregations accumulate in DECIMAL(18,4) (exact),
    final values cast to DOUBLE;
  * averages are exact-decimal-sum divided by count in DOUBLE (IEEE,
    identical in both engines);
  * every computed column is aliased identically on both sides;
  * any top-k has a total tie-break order.

Rows that stage data in a scratch dir (a streaming sink, a WARC/WET file
round trip) build their result inside :func:`_scratch_result`: it is
returned eagerly materialized (``materialize(df, eager=True)``), so the
driver's later drain never reads the dir, which is gone by then.  No
row collects its result to the driver to outlive the dir.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from metalpipe_spark.materialize import materialize


@dataclass
class CatalogQuery:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, CatalogQuery] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = CatalogQuery(name=name, build=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _scratch_result(prefix: str, run: Callable[[str], DataFrame]) -> DataFrame:
    """``run(tmp)`` in a fresh scratch dir, its result materialized
    eagerly so it stays readable once the dir is removed."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        return materialize(run(tmp), eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def load_all() -> dict[str, CatalogQuery]:
    """Import every catalog module (registration side effect) and return
    the registry."""
    from metalpipe_spark.catalog import (  # noqa: F401
        curation,
        dedup,
        inference_queries,
        modelling_queries,
        multimodal_queries,
        pipelines,
        relational,
        similarity,
        streaming_queries,
        text,
        treehorn_queries,
        warc_queries,
        web_queries,
    )

    return REGISTRY
