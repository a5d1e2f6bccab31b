"""Checkpoint manifests + per-partition lineage → exact mid-corpus resume.

The reference "resumes" with file-existence checks and pickle
checkpoints (src/data/get.py:50,100,139; rdf_graph.py:137;
parsing.py:355-361). The rebuild's equivalent (SURVEY.md §4.3 #5):

* every stage writes its output table plus a ``_lineage`` manifest of
  per-partition rows ``(run_id, stage, partition_id, row_count,
  min_key, max_key)`` and a ``_SUCCESS``-gated completion marker row;
* ``resume`` = skip stages whose manifest is complete (marker present
  and partition rows consistent), re-reading their parquet output
  instead of recomputing.

At 10^12-document scale the same shape holds per partition batch: the
manifest is appended transactionally with each stage commit (Iceberg
snapshot in production; parquet append locally), and restart anti-joins
pending work against it.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import tables

MANIFEST_SCHEMA = ("run_id string, stage string, attempt_id long, "
                   "partition_id int, row_count long, complete boolean, "
                   "wall_ms long")


def _manifest_path(base_dir: str) -> str:
    return os.path.join(base_dir, "_lineage")


def partition_stats(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Per-partition lineage rows for a materialized stage output."""
    return (df.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.count("*").alias("row_count")))


def write_stage(spark: SparkSession, df: DataFrame, base_dir: str,
                run_id: str, stage: str,
                partition_by: str | None = None) -> DataFrame:
    """Write stage output + lineage; returns the re-read output.

    Each invocation is stamped with a monotonically increasing
    ``attempt_id`` so a crash-and-retry appends a *second, self-
    consistent* set of manifest rows instead of corrupting the sum
    check in ``stage_complete`` (which validates only the latest
    attempt against its own marker).

    ``partition_by`` writes a directory-partitioned layout (e.g. the
    edges table's ``rel_bucket`` — see plans/tables.py for the
    Iceberg-transform equivalent)."""
    out = os.path.join(base_dir, stage)
    t0 = time.time()
    attempt = time.time_ns()
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(out)
    back = spark.read.parquet(out)

    # ONE scan of the written output: per-partition stats collected to
    # the driver (bounded by the partition count), marker total summed
    # locally — the previous shape paid a second full count() for the
    # marker. Stats + marker land in a single manifest append, so the
    # marker cannot become visible without its partition rows.
    stats_rows = partition_stats(back).collect()
    wall = int((time.time() - t0) * 1000)
    total = sum(r["row_count"] for r in stats_rows)
    rows = [(run_id, stage, attempt, r["partition_id"], r["row_count"],
             False, wall) for r in stats_rows]
    rows.append((run_id, stage, attempt, -1, total, True, wall))
    spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(_manifest_path(base_dir))
    return back


def stage_complete(spark: SparkSession, base_dir: str,
                   run_id: str, stage: str) -> bool:
    """A stage is complete iff the LATEST attempt committed its marker
    and that attempt's own partition rows sum to the marker total, and
    the output directory carries a finished write's ``_SUCCESS``.
    Earlier (crashed) attempts' rows are ignored entirely, so a retry
    after a mid-commit crash converges instead of recomputing forever;
    a newest attempt that appended stats but died before its marker
    forces a recompute (its overwrite may have clobbered the output)."""
    path = _manifest_path(base_dir)
    try:
        m = spark.read.parquet(path)
    except Exception:
        return False
    mine = m.filter((F.col("run_id") == run_id)
                    & (F.col("stage") == stage))
    latest = mine.agg(F.max("attempt_id")).collect()[0][0]
    if latest is None:
        return False
    marker = (mine.filter((F.col("attempt_id") == latest)
                          & F.col("complete"))
              .select("row_count").collect())
    if not marker:
        return False
    total = marker[0]["row_count"]
    part_sum = (mine.filter((F.col("attempt_id") == latest)
                            & ~F.col("complete"))
                .agg(F.sum("row_count")).collect()[0][0]) or 0
    if not os.path.exists(os.path.join(base_dir, stage, "_SUCCESS")):
        return False
    return int(part_sum) == int(total)


def run_or_resume(spark: SparkSession, base_dir: str, run_id: str,
                  stage: str, build,
                  partition_by: str | None = None) -> DataFrame:
    """If the stage's manifest says complete → re-read its output;
    otherwise compute via ``build()`` and write with lineage."""
    if stage_complete(spark, base_dir, run_id, stage):
        return spark.read.parquet(os.path.join(base_dir, stage))
    return write_stage(spark, build(), base_dir, run_id, stage,
                       partition_by=partition_by)


def stager(spark: SparkSession, base_dir: str, run_id: str
           ) -> Callable[[str, Callable[[], DataFrame]], DataFrame]:
    """``run_or_resume`` bound to one (base_dir, run_id), as a
    ``stage(name, build)`` hook for ``pipeline.run_pipeline``. The
    ``edges`` stage lands in the bucketed layout (tables.bucket_edges)
    and is read back without its ``rel_bucket`` column."""
    def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        if name == "edges":
            return run_or_resume(
                spark, base_dir, run_id, name,
                lambda: tables.bucket_edges(build()),
                partition_by="rel_bucket").drop("rel_bucket")
        return run_or_resume(spark, base_dir, run_id, name, build)
    return stage
