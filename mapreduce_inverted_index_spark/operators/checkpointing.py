"""Lineage truncation for iterative operators (BFS, PageRank,
connected components): every round must cut the logical plan or it
grows linearly with iterations and analysis/codegen time blows up.

The grade follows the deployment, not the caller:

* no checkpoint directory (the default): ``localCheckpoint`` —
  blocks stored on executors, no filesystem round-trip. Fast,
  correct, but NOT fault-tolerant: losing an executor loses blocks
  whose lineage was truncated away, failing the job. The right
  choice for local mode and for clusters where re-running a failed
  iterative query is cheaper than checkpoint IO every round.
* a checkpoint directory set on the SparkContext
  (``spark.sparkContext.setCheckpointDir``, HDFS/S3-grade storage on
  a real cluster): ``checkpoint()`` into it — executor loss replays
  from the checkpoint files, the fault-tolerance story for
  multi-hour iterative jobs. Costs one write + read of the state per
  round.

The grade only changes WHERE truncated state lives — results are
bit-identical on both (pytest-pinned for all three iterative
operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["truncate_lineage"]


def truncate_lineage(
    df: DataFrame, *, eager: bool = False
) -> DataFrame:
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)
