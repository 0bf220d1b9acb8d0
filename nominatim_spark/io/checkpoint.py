"""Per-stage checkpoints with lineage manifests.

The reference's index build is resumable because each rank stage writes to
real tables before the next starts (indexer.py:54-88 + transactional
Postgres).  Here every pipeline stage materializes to parquet (stand-in for
Iceberg, which isn't in this container — the writer API is the Iceberg
``writeTo`` shape so the swap is one line) with a JSON manifest:

  {stage, rows, n_partitions, per_partition_rows, inputs, build_id, schema}

Benefits at both ends of the scale:
* local: truncates Catalyst lineage — the placex DAG stacks unions, windows
  and pandas UDFs per stage, and replanning the full history is superlinear
  (observed: minutes of driver planning at 100 rows without truncation);
* cluster: resume-from-checkpoint, per-partition row counts for lineage
  audits, and stable shuffle-free re-reads for downstream stages.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def checkpoint(
    df: DataFrame,
    root: str,
    stage: str,
    *,
    inputs: list[str] | None = None,
    build_id: str = "dev",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Write ``df`` to ``{root}/{stage}`` + manifest; return the re-read DF."""
    spark = df.sparkSession
    path = os.path.join(root, stage)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)

    out = spark.read.parquet(path)
    per_part = [
        (r.p, r.n)
        for r in out.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    manifest = {
        "stage": stage,
        "rows": int(sum(n for _, n in per_part)),
        "n_partitions": len(per_part),
        "per_partition_rows": dict((str(p), int(n)) for p, n in sorted(per_part)),
        "inputs": inputs or [],
        "build_id": build_id,
        "schema": out.schema.simpleString(),
        "written_at_stage_clock": time.monotonic(),
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return out


def has_checkpoint(root: str, stage: str) -> bool:
    return os.path.exists(os.path.join(root, stage, "_manifest.json"))


def load_checkpoint(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, stage))


def read_manifest(root: str, stage: str) -> dict:
    with open(os.path.join(root, stage, "_manifest.json")) as fh:
        return json.load(fh)


def materialize_probe(df: DataFrame,
                      rows_per_task: int = 1_000_000) -> DataFrame:
    """Materialize a request's probe side once, sized to its row count.

    ``df`` is the caller's projection of its input.  ``localCheckpoint``
    runs the input lineage exactly once (a ``createDataFrame`` list is a
    Python-worker RDD that every consuming stage would otherwise re-run,
    and a page-extraction input re-runs its mapInPandas), and every
    stage downstream then reads the in-memory leaf.  The count is a cheap
    job over that leaf; coalescing to ``ceil(rows / rows_per_task)``
    partitions, capped at the current count, makes a single request one
    task while a large batch keeps its parallelism.  The fewer map tasks
    also shrink the (map x reduce) shuffle block grid that dominates
    small batches.
    """
    out = df.localCheckpoint(eager=True)
    parts = out.rdd.getNumPartitions()
    target = max(1, min(-(-out.count() // rows_per_task), parts))
    return out.coalesce(target) if target < parts else out
