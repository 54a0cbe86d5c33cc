"""Lineage checkpoints: the one place in the engine that materializes a
DataFrame past its lineage.

Iterative and multi-consumer operators (connected components, PageRank,
BPE/WordPiece rounds, semantic-dedup waves, the family-shared catalog
stages) truncate lineage so each action replays a table instead of its
whole upstream plan.  Catalog rows that stage data in a scratch dir (a
streaming sink, a WARC/WET round trip) keep their result past the dir's
removal the same way (``catalog._scratch_result``).  Where the truncated blocks live is a deployment
decision, not an operator's, so it is made here, from the SparkContext's
checkpoint dir:

* no dir set (``local[*]``, tests, the bench): ``localCheckpoint`` —
  executor-local MEMORY_AND_DISK blocks, no files written, but a lost
  executor loses blocks that nothing can recompute;
* dir set (``spark.checkpoint.dir`` at session start, or
  ``SparkContext.setCheckpointDir``): a reliable checkpoint — files on
  that (HDFS/object-store) path survive executor loss.

The module sits outside the layer packages (``operators/`` and the
rest) on purpose: the benchmark's tracer (``perfbench/trace.py``) wraps
every public function there in a span, and a helper that every operator
calls would add one to each caller's trace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Checkpoint ``df`` and return the truncated DataFrame.  Lazy by
    default: the first action on the result writes the checkpoint.  A
    caller that needs it written before a multi-subtree plan runs (whose
    subtrees would otherwise race to write it), or before its inputs go
    away, passes ``eager=True``."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Free the blocks behind a DataFrame that :func:`materialize`
    returned, once nothing downstream reads it.  ``DataFrame.unpersist``
    cannot: it only clears the SQL cache-manager entry, which a
    checkpoint never registers, so the backing RDD is unpersisted
    directly.  A reliable checkpoint holds no blocks (its files are the
    context cleaner's, under
    ``spark.cleaner.referenceTracking.cleanCheckpoints``), so this does
    nothing for one."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    if rdd.getStorageLevel().isValid():
        rdd.unpersist(False)
