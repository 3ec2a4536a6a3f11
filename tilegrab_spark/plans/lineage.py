"""Per-partition lineage + metrics + checkpoint/resume (north rule; the
Spark translation of the reference's ``.dlprog.tilegrab`` progress store,
downloader/progress.py:13-179).

Design (SURVEY.md §2.1 S8 / §4): every pipeline stage ends in a durable
append to a parquet (Iceberg-style) METRICS table

    (run_id, stage, partition_id, cell_id, status, rows, bytes,
     committed_at)

written from the stage's committed data output, right after the data
write commits (the parquet ``_SUCCESS`` marker is the snapshot
commit — the analogue of the reference's atomic tmp+rename flush at
progress.py:105-123). Resume = left-anti join of the work-unit cells
against committed cells — the *intended* semantics of the reference's
``upsert_by_tile_index``/``progress_by_tile`` (progress.py:150-172; the
reference's own lookup is broken, SURVEY.md §8 Q2).

A resume adds one Spark job, the broadcast of the committed cells: the
table is read with its known ``METRICS_SCHEMA`` (no schema-inference
job), and the committed rows' ``cell_id`` is broadcast as it stands. A
cell committed by several runs or partitions appears several times
there, which a left-anti join ignores, so no ``distinct`` (and no
shuffle) is needed. The broadcast therefore grows with the stage's
lineage rows, one per (cell, partition) in every run, not with the
distinct cells: a metrics table that many runs append to broadcasts
more than one that a single run wrote.

Statuses mirror DownloadStatus (downloader/status.py:3-11).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# DownloadStatus parity (downloader/status.py:3-11)
STATUS = {
    "SUCCESS": 200,
    "SKIP": 101,
    "SKIP_AND_EXISTS": 100,
    "EMPTY": 400,
    "FAILED": 401,
    "UNDEFINED": 900,
}

METRICS_SCHEMA = (
    "run_id string, stage string, partition_id int, cell_id long, "
    "status string, rows long, bytes long, committed_at timestamp"
)


class MetricsStore:
    """Append-only metrics/lineage table at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(self.path)
        )

    def append_stage(
        self,
        df: DataFrame,
        *,
        run_id: str,
        stage: str,
        status: str = "SUCCESS",
        bytes_col: str | None = None,
    ) -> None:
        """Commit per-cell lineage for a stage output that carries a
        ``cell_id`` column. One row per (cell, input partition): rows
        processed + bytes merged — the 'cells processed, rows joined,
        bytes merged' lineage of the north rule."""
        m = _stage_metrics(df, run_id=run_id, stage=stage, status=status, bytes_col=bytes_col)
        m.write.mode("append").parquet(self.path)

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], METRICS_SCHEMA)
        return self.spark.read.schema(METRICS_SCHEMA).parquet(self.path)

    def resume_filter(self, work_df: DataFrame, stage: str) -> DataFrame:
        """Drop work units whose cell_id is already committed (F5): a
        broadcast left-anti join against every committed lineage row of
        ``stage``, duplicates and all. The broadcast side holds one row
        per (cell, partition) of every run that committed the stage, so
        it grows with the runs appended to this table."""
        if not self.exists():
            return work_df
        done = self.read().filter(
            (F.col("stage") == stage) & F.col("status").isin("SUCCESS", "SKIP_AND_EXISTS")
        )
        return work_df.join(F.broadcast(done.select("cell_id")), on="cell_id", how="left_anti")

    def latest(self) -> DataFrame:
        """Upsert view (J4): one row per (stage, cell_id) — the newest
        committed record wins. The intended ``upsert_by_tile_index``
        semantics (progress.py:150-164) expressed over the append-only
        log with a row_number window instead of in-place mutation."""
        from pyspark.sql import Window

        w = Window.partitionBy("stage", "cell_id").orderBy(
            F.desc("committed_at"), F.desc("run_id"), F.desc("partition_id")
        )
        return (
            self.read()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def summary(self) -> DataFrame:
        """A4 success-rate rollup ('Download completed: %d/%d',
        runner.py:146-150)."""
        return self.read().groupBy("run_id", "stage", "status").agg(
            F.countDistinct("cell_id").alias("cells"),
            F.sum("rows").alias("rows"),
            F.sum("bytes").alias("bytes"),
        )


def _stage_metrics(
    df: DataFrame,
    *,
    run_id: str,
    stage: str,
    status: str = "SUCCESS",
    bytes_col: str | None = None,
) -> DataFrame:
    """METRICS_SCHEMA rows for one stage output (shared by the plain
    append-only store above and plans/snapshots.py's snapshot store)."""
    b = F.sum(F.length(F.col(bytes_col))) if bytes_col else F.lit(0)
    return (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("cell_id", "partition_id")
        .agg(F.count("*").alias("rows"), b.cast("long").alias("bytes"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col("partition_id"),
            F.col("cell_id").cast("long").alias("cell_id"),
            F.lit(status).alias("status"),
            F.col("rows"),
            F.coalesce(F.col("bytes"), F.lit(0)).alias("bytes"),
            F.current_timestamp().alias("committed_at"),
        )
    )


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
